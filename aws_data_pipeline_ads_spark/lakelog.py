"""Versioned lake commit log: time travel + atomic publish + MERGE.

The unified transaction layer the manifest zone (pipeline/sink.py
write_manifest — reference `config/config.json:15` manifest/ folder),
atomic-swap compaction (operators/compaction.py), MERGE upsert
(operators/upsert.py) and snapshot CDC (upsert.snapshot_diff) grow
into at scale — the minimal form of what Delta Lake's `_delta_log` /
Iceberg's metadata tree formalize, built from public first principles:

* **A commit is a FILE LIST, not a directory.** Every version is one
  JSON entry `_log/{version:08d}.json` recording the complete set of
  parquet files that make up that snapshot. Readers never LIST the
  data directory (slow, rate-limited, eventually consistent on object
  stores at 100 TB); they read one small JSON and open exactly those
  files. Data files are immutable and write-once under uniquely named
  `data/<uuid>/` subdirs, so a commit never rewrites or moves bytes
  that older versions reference — append and copy-on-write updates
  share unchanged files across versions for free.

* **Atomic publish = exclusive create of the next log entry.** The
  data files of an in-flight commit are invisible garbage until the
  entry exists; `open(path, "x")` makes exactly one writer win a
  version number. A loser gets ConcurrentWriteError and must re-read
  the new head and retry (optimistic concurrency — Delta's protocol).
  POSIX rename/create is atomic on local/HDFS; on S3 this single
  operation is what needs a coordination layer (a DynamoDB-style
  LogStore), everything else ports unchanged.

* **Exactly-once via txn ids.** A commit may carry an idempotency
  token (`txn_id`); replaying it (streaming foreachBatch crash-replay,
  re-run jobs) returns the already-committed version instead of
  double-applying. Same contract as Delta's txn action.

* **Time travel** (`read(version=...)`) is just reading an old entry's
  file list — retention is explicit via `vacuum(keep_last)`, which
  deletes data files no retained version references.

At 100 TB the JSON file list would itself be checkpointed into parquet
every N commits (Delta checkpoints); the protocol here is unchanged by
that optimization.

No reference parity beyond the manifest zone: the reference never
implements versioned reads (SURVEY §2B D12); this is the charter's
lakehouse tier.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


class CommitBackend:
    """The metadata plane of the commit log, extracted to a seam.

    Data files always travel through Spark's Hadoop FS; the backend
    governs ONLY the small `_log/` JSON objects, because the one
    primitive the whole protocol leans on — ATOMIC CREATE-IF-ABSENT of
    the next version's entry — is exactly what differs across stores:

    * local / HDFS / NFS-with-O_EXCL  → ``open(path, "x")``
      (:class:`PosixCommitBackend`, the default);
    * S3 / GCS / ABFS → a conditional PUT (``If-None-Match: *`` /
      ``x-goog-if-generation-match: 0`` / ETag ``*``) — modelled by
      :class:`ConditionalPutCommitBackend`;
    * S3 before conditional writes → an external LogStore (the
      DynamoDB coordination table Delta-on-S3 uses) implementing the
      same ``put_if_absent`` contract.

    Everything else the log needs is plain GET / LIST / DELETE plus a
    compare-and-swap PUT for the checkpoint file (S3 ``If-Match`` on
    the ETag, GCS generation-match, ABFS ETag — all shipped
    primitives). No rename, no directories, no append — deliberately
    the object-store-safe subset, so a real S3 backend slots in
    without touching LakeTable.
    """

    def put_if_absent(self, path: str, data: str) -> bool:
        """Create `path` holding `data` iff it does not exist. Exactly
        one concurrent caller may win (True); everyone else must see
        False. THE commit point — its atomicity is the protocol."""
        raise NotImplementedError

    def put_if_match(self, path: str, data: str,
                     expected: str | None) -> bool:
        """Replace `path` with `data` iff its current contents are
        exactly `expected` (None = iff it does not exist), atomically:
        of N concurrent callers holding the same `expected`, at most
        one may win (True). The checkpoint publish point — plain
        last-writer-wins overwrite here is a lost-update hazard (a
        stale concurrent checkpoint can clobber a newer one AFTER the
        newer writer already expired the per-version entries only its
        own snapshot covered, regressing the log's visible head)."""
        raise NotImplementedError

    def get(self, path: str) -> str | None:
        """Full contents of `path`, or None if it does not exist."""
        raise NotImplementedError

    def list(self, dir_path: str) -> list[str]:
        """Immediate child object names under `dir_path` ('' if none)."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Remove `path`; deleting a missing object is a no-op."""
        raise NotImplementedError

    def ensure_dir(self, dir_path: str) -> None:
        """Make `dir_path` listable (no-op on stores without dirs)."""
        raise NotImplementedError


class PosixCommitBackend(CommitBackend):
    """Local / HDFS-style implementation: O_EXCL create is the commit
    point, write-to-unique-temp + rename is the atomic overwrite."""

    def put_if_absent(self, path: str, data: str) -> bool:
        try:
            with open(path, "x") as f:
                f.write(data)
            return True
        except FileExistsError:
            return False

    def put_if_match(self, path: str, data: str,
                     expected: str | None) -> bool:
        # flock serializes the read-compare-replace critical section
        # (released automatically on process death — no stale locks);
        # the replace itself is still write-complete-temp + rename so
        # readers never observe a torn object
        import fcntl

        with open(f"{path}.lock", "a+") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                if self.get(path) != expected:
                    return False
                tmp = f"{path}.{uuid.uuid4().hex}.tmp"
                with open(tmp, "w") as f:
                    f.write(data)
                os.replace(tmp, path)
                return True
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def get(self, path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read()
        except FileNotFoundError:
            return None

    def list(self, dir_path: str) -> list[str]:
        try:
            # .lock (put_if_match critical section) and .tmp (unpublished
            # partial writes) are backend-internal artifacts, not objects
            return [f for f in os.listdir(dir_path)
                    if not f.endswith((".lock", ".tmp"))]
        except FileNotFoundError:
            return []

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def ensure_dir(self, dir_path: str) -> None:
        os.makedirs(dir_path, exist_ok=True)


class ConditionalPutCommitBackend(CommitBackend):
    """In-memory object store exposing exactly the primitives a
    conditional-PUT-capable store (S3 `If-None-Match: *`, GCS
    generation-match 0, ABFS ETag `*`) gives you: flat keys, no
    rename, no directories, PUT/GET/LIST/DELETE. Exists to prove the
    commit protocol relies on nothing POSIX-only — the lakelog suite
    runs against both backends — and as the reference shape for a real
    S3 implementation (swap the dict ops for boto3 calls; the lock
    models the store's own conditional-write atomicity)."""

    def __init__(self):
        import threading

        self._objects: dict[str, str] = {}
        self._lock = threading.Lock()

    def put_if_absent(self, path: str, data: str) -> bool:
        with self._lock:  # the store's conditional-write atomicity
            if path in self._objects:
                return False
            self._objects[path] = data
            return True

    def put_if_match(self, path: str, data: str,
                     expected: str | None) -> bool:
        with self._lock:  # models S3 If-Match / GCS generation-match
            if self._objects.get(path) != expected:
                return False
            self._objects[path] = data
            return True

    def get(self, path: str) -> str | None:
        with self._lock:
            return self._objects.get(path)

    def list(self, dir_path: str) -> list[str]:
        prefix = dir_path.rstrip("/") + "/"
        with self._lock:
            return sorted(
                k[len(prefix):]
                for k in self._objects
                if k.startswith(prefix) and "/" not in k[len(prefix):]
            )

    def delete(self, path: str) -> None:
        with self._lock:
            self._objects.pop(path, None)

    def ensure_dir(self, dir_path: str) -> None:
        pass  # object stores have no directories


class S3CommitBackend(CommitBackend):
    """CommitBackend over a REAL S3 API via boto3 conditional writes —
    the production metadata plane for an S3-rooted lake (and the HTTP
    proof for ConditionalPutCommitBackend's in-memory model; the
    lakelog protocol suite runs against a live moto S3 server through
    this class when moto is installed, tests/test_lakelog_s3.py).

    * put_if_absent → ``PutObject`` with ``If-None-Match: *`` (S3
      conditional writes, GA 2024) — 412 PreconditionFailed = lost.
    * put_if_match  → ``PutObject`` with ``If-Match: <etag>`` where
      the ETag is the one the store REPORTS for the current object
      (HEAD before PUT), so the CAS works even where ETag is not
      content-MD5 (SSE-KMS, multipart, S3-compatibles). The
      expected-CONTENT contract is bridged by comparing the reported
      ETag to md5(expected) and falling back to a GET when they
      differ — see put_if_match.
    * 409 ConditionalRequestConflict (a concurrent conditional write
      in flight on real S3) also reports as a loss — every caller's
      protocol response to False is re-read-and-retry, which is
      exactly right for 409 too.

    Requires boto3 at construction time only (import is local), so the
    module stays importable without it."""

    def __init__(self, client, bucket: str):
        self.client = client
        self.bucket = bucket
        import botocore.exceptions  # noqa: F401 — fail fast if absent

        self._client_error = __import__(
            "botocore.exceptions", fromlist=["ClientError"]).ClientError

    def _key(self, path: str) -> str:
        return path.lstrip("/")

    def _lost(self, exc) -> bool:
        code = exc.response.get("Error", {}).get("Code", "")
        return code in ("PreconditionFailed", "ConditionalRequestConflict")

    def put_if_absent(self, path: str, data: str) -> bool:
        try:
            self.client.put_object(Bucket=self.bucket, Key=self._key(path),
                                   Body=data.encode(), IfNoneMatch="*")
            return True
        except self._client_error as e:
            if self._lost(e):
                return False
            raise

    def put_if_match(self, path: str, data: str,
                     expected: str | None) -> bool:
        """CAS on the ETag the store ACTUALLY reports for the current
        object (one HEAD per CAS — checkpoint/tag only, never the
        append hot path). Recomputing md5(expected) instead would make
        the CAS lose forever on buckets whose ETag is not content-MD5
        (SSE-KMS, multipart, some S3-compatibles), misreported as
        contention. When the reported ETag differs from content-MD5 we
        disambiguate with one GET: content == expected means a non-MD5
        ETag store (CAS proceeds on the observed ETag); content drift
        means a genuinely lost race (False, caller re-reads)."""
        import hashlib

        if expected is None:
            return self.put_if_absent(path, data)
        try:
            head = self.client.head_object(Bucket=self.bucket,
                                           Key=self._key(path))
        except self._client_error as e:
            code = e.response.get("Error", {}).get("Code", "")
            if code in ("404", "NoSuchKey", "NotFound"):
                return False  # object vanished under us — lost
            raise
        etag = head["ETag"]
        if etag != f'"{hashlib.md5(expected.encode()).hexdigest()}"':
            if self.get(path) != expected:
                return False  # real content change — lost race
            # content matches but ETag isn't its MD5 (SSE-KMS /
            # multipart store): CAS on the observed ETag below.
        try:
            self.client.put_object(Bucket=self.bucket, Key=self._key(path),
                                   Body=data.encode(), IfMatch=etag)
            return True
        except self._client_error as e:
            if self._lost(e):
                return False
            raise

    def get(self, path: str) -> str | None:
        try:
            r = self.client.get_object(Bucket=self.bucket,
                                       Key=self._key(path))
            return r["Body"].read().decode()
        except self._client_error as e:
            if e.response.get("Error", {}).get("Code") == "NoSuchKey":
                return None
            raise

    def list(self, dir_path: str) -> list[str]:
        prefix = self._key(dir_path).rstrip("/") + "/"
        out: list[str] = []
        token: str | None = None
        while True:
            kw = {"Bucket": self.bucket, "Prefix": prefix,
                  "Delimiter": "/"}
            if token:
                kw["ContinuationToken"] = token
            r = self.client.list_objects_v2(**kw)
            out += [o["Key"][len(prefix):] for o in r.get("Contents", [])]
            token = r.get("NextContinuationToken")
            if not token:
                return sorted(out)

    def delete(self, path: str) -> None:
        self.client.delete_object(Bucket=self.bucket, Key=self._key(path))

    def ensure_dir(self, dir_path: str) -> None:
        pass  # object stores have no directories


class DataPlane:
    """The DATA-file side of the store seam: existence / size / delete
    / recursive-list of immutable parquet objects. CommitBackend owns
    the tiny `_log/` JSON protocol; maintenance operations (restore's
    vacuumed-file guard, compact's size binning, vacuum's deletes,
    orphan discard) need these four primitives on the data files
    themselves — `os.*` calls there would be always-wrong on a
    non-POSIX store (exists() constantly False would make restore
    refuse everything and vacuum delete nothing). Bulk reads/writes
    still travel through Spark's Hadoop FS (spark.read/df.write), and
    footer-metadata collection (_collect_footer_stats)
    through pyarrow, which resolves object-store URIs via fsspec."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        """Delete `path`; deleting a missing object is a no-op."""
        raise NotImplementedError

    def walk(self, dir_path: str) -> list[str]:
        """Every data file under `dir_path`, recursively, sorted —
        excluding _SUCCESS/.crc-style markers."""
        raise NotImplementedError


class LocalDataPlane(DataPlane):
    """POSIX implementation (the default, matching PosixCommitBackend)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def remove(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def walk(self, dir_path: str) -> list[str]:
        return sorted(
            os.path.join(dirpath, f)
            for dirpath, _dirs, files in os.walk(dir_path)
            for f in files
            if not f.startswith("_") and not f.startswith(".")
        )


class HadoopFsDataPlane(DataPlane):
    """Store-agnostic implementation through Spark's own Hadoop
    FileSystem (the exact FS the executors read/write data files
    with): file://, hdfs://, s3a://, abfss://, gs:// all resolve via
    the cluster's Hadoop configuration — no extra Python deps, no
    second set of credentials."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def _fs(self, path: str):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(
            self.spark._jsc.hadoopConfiguration()), jpath

    def exists(self, path: str) -> bool:
        fs, p = self._fs(path)
        return bool(fs.exists(p))

    def size(self, path: str) -> int:
        fs, p = self._fs(path)
        return int(fs.getFileStatus(p).getLen())

    def remove(self, path: str) -> None:
        fs, p = self._fs(path)
        fs.delete(p, False)  # False on missing: already a no-op

    def walk(self, dir_path: str) -> list[str]:
        """Returned paths preserve the CALLER'S addressing form. A
        caller that passed an explicit scheme (s3a://bucket/…,
        abfss://…) gets full URIs back — stripping to toUri().getPath()
        would drop scheme AND bucket, so commit entries would record
        paths that later resolve against the default FS (wrong store,
        or nothing). A scheme-less caller gets plain paths, which keep
        resolving through the same default FS that listed them.

        The scheme decision comes from the PARSED path, not a
        substring: Hadoop accepts single-slash URIs (hdfs:/tbl/data,
        s3a:/bucket/x) that contain no "://", and a substring check
        would strip exactly the committed paths the docstring above
        warns about."""
        fs, p = self._fs(dir_path)
        keep_uri = p.toUri().getScheme() is not None
        out = []
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            out.append(st.getPath().toString() if keep_uri
                       else st.getPath().toUri().getPath())
        return sorted(out)


class ConstraintViolationError(ValueError):
    """A standing table CHECK constraint rejected a write (or ADD
    CONSTRAINT found existing rows violating it). SQL CHECK semantics:
    a row violates only when the predicate evaluates to FALSE — NULL
    (unknown) passes, unlike commit_expect's DLT expectations where
    unknown is not a pass. Named per constraint with violation counts
    so the producer knows which contract broke."""


class ExpectationViolationError(ValueError):
    """A commit_expect batch violated an expectation under
    on_violation="fail" — nothing was committed. The message names each
    failed rule with its violation count so the producer can decide
    whether to fix upstream, relax the rule, or quarantine instead."""


class SchemaMismatchError(ValueError):
    """An append's schema drifted from the table's committed schema.

    Without this gate the drift is SILENT data loss: a file-list read
    resolves the schema from one arbitrary parquet footer, so rows from
    files with extra/renamed columns come back with those columns
    dropped or nulled depending on which file won. At 100 TB with many
    producers, schema drift is routine — it must be an explicit refusal
    (or an explicit `evolve=True` widening), never a quiet coin flip."""


class LakeTable:
    """A versioned parquet table rooted at `path` (local/HDFS-style FS).

    Layout::

        <path>/_log/00000000.json   one entry per commit (file list)
        <path>/data/<uuid>/*.parquet   immutable, write-once
    """

    def __init__(self, spark: SparkSession, path: str,
                 backend: CommitBackend | None = None,
                 data_plane: DataPlane | None = None):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, "_log")
        self.backend = backend if backend is not None else PosixCommitBackend()
        self.data_plane = (data_plane if data_plane is not None
                           else LocalDataPlane())
        self.backend.ensure_dir(self.log_dir)

    # -- log primitives ----------------------------------------------------

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.json")

    def _checkpoint_path(self) -> str:
        return os.path.join(self.log_dir, "_checkpoint.json")

    def _load_checkpoint(self) -> dict:
        s = self.backend.get(self._checkpoint_path())
        if s is None:
            return {"through": -1, "entries": {}}
        return json.loads(s)

    def _versions(self) -> list[int]:
        listed = {
            int(f[:-5])
            for f in self.backend.list(self.log_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        }
        listed.update(int(k) for k in self._load_checkpoint()["entries"])
        return sorted(listed)

    def current_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _read_entry(self, version: int) -> dict:
        s = self.backend.get(self._entry_path(version))
        if s is not None:
            return json.loads(s)
        e = self._load_checkpoint()["entries"].get(str(version))
        if e is not None:
            return e
        raise ValueError(
            f"lake table {self.path}: version {version} does not exist"
        )

    def checkpoint(self, expire: bool = True, retries: int = 3) -> int:
        """Consolidate every log entry through the head into ONE
        checkpoint file (and, with expire=True, delete the per-version
        JSONs it covers). At 100 TB a table accrues millions of
        commits; without checkpoints every reader pays an O(versions)
        directory walk and every txn-replay check an O(versions) chain
        of entry reads — the same reason Delta checkpoints its
        _delta_log. Publish atomicity is untouched: the NEXT version's
        exclusive-create file never existed, and version numbering
        reads max(checkpoint, listed entries).

        Publication is a COMPARE-AND-SWAP against the checkpoint we
        read while building (backend.put_if_match — S3 If-Match / GCS
        generation-match), which closes the lost-update race a plain
        overwrite leaves open: a stale concurrent checkpoint landing
        after our read-back would clobber the newer snapshot while the
        newer writer has already expired the per-version JSONs only
        its own checkpoint covered — committed versions would vanish
        and the visible head would regress. With CAS the stale writer
        simply loses, re-reads (its next build folds in the winner's
        entries via _versions/_read_entry), and republishes a
        superset. Expiry only ever deletes entries our own PUBLISHED
        (CAS-won) snapshot covers, so no metadata copy is destroyed."""
        last_err = None
        for _ in range(max(1, retries)):
            prev_raw = self.backend.get(self._checkpoint_path())
            head = self.current_version()
            if head is None:
                raise ValueError(
                    f"lake table {self.path}: nothing to checkpoint")
            ck = {"through": head,
                  "entries": {str(v): self._read_entry(v)
                              for v in self._versions() if v <= head}}
            if self.backend.put_if_match(
                    self._checkpoint_path(), json.dumps(ck), prev_raw):
                if expire:
                    for v in list(ck["entries"]):
                        self.backend.delete(self._entry_path(int(v)))
                return head
            last_err = "concurrent checkpoint won the compare-and-swap"
        raise RuntimeError(
            f"lake table {self.path}: checkpoint contention after "
            f"{retries} attempts ({last_err})")

    def history(self) -> list[dict]:
        """All commit entries, oldest first (file lists elided to counts)."""
        out = []
        for v in self._versions():
            e = self._read_entry(v)
            row = {k: e[k] for k in
                   ("version", "op", "txn_id", "n_files", "timestamp_ms")}
            if "meta" in e:  # per-commit user metadata (see _publish)
                row["meta"] = e["meta"]
            out.append(row)
        return out

    def _txn_version(self, txn_id: str) -> int | None:
        for v in reversed(self._versions()):
            if self._read_entry(v).get("txn_id") == txn_id:
                return v
        return None

    # -- write path --------------------------------------------------------

    @staticmethod
    def _entry_cmap(entry: dict | None) -> dict:
        """The entry's logical→physical column map (identity entries
        omitted — an empty dict means every column is stored under its
        own name, the pre-column-mapping layout)."""
        return dict((entry or {}).get("column_map") or {})

    def _head_cmap(self) -> dict:
        head = self.current_version()
        if head is None:
            return {}
        return self._entry_cmap(self._read_entry(head))

    def _write_files(self, df: DataFrame,
                     cmap: dict | None = None) -> list[str]:
        """Land `df` as immutable parquet under a fresh uuid dir and
        return the file list (metadata listing, no data re-scan).

        `df` carries LOGICAL column names; files always land under
        PHYSICAL names (`cmap`, default the head's column map — Delta
        column-mapping semantics: physical names are stable for the
        table's lifetime, so per-file stats/blooms/sums stay keyed
        consistently across renames and every CoW rewrite composes).
        On an unmapped table the map is empty and this is a no-op.

        Timestamps are written as TIMESTAMP_MICROS (set-and-restored
        around the write): Spark's INT96 default is a deprecated type
        that carries NO column statistics, which would silently disable
        time-range data skipping — the predicate that matters most."""
        if cmap is None:
            cmap = self._head_cmap()
        ren = {l: p for l, p in cmap.items()
               if p != l and l in df.columns}
        if ren:
            # SIMULTANEOUS projection, never withColumnsRenamed: that
            # API applies its dict sequentially, so a rename CYCLE
            # ({bval→b, b→a} after rename_column chains) can collapse
            # two columns into one mid-sequence depending on dict
            # order — a select of aliases renames atomically
            from pyspark.sql import functions as F

            df = df.select(*[F.col(c).alias(ren.get(c, c))
                             for c in df.columns])
        sub = os.path.join(self.path, "data", uuid.uuid4().hex)
        key = "spark.sql.parquet.outputTimestampType"
        prev = self.spark.conf.get(key, None)
        self.spark.conf.set(key, "TIMESTAMP_MICROS")
        try:
            df.write.parquet(sub)
        finally:
            if prev is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, prev)
        return self.data_plane.walk(sub)

    _STATS_TYPES = (bool, int, float, str)

    @staticmethod
    def _stat_key(v):
        """Canonical JSON-safe form of a stat or scan bound. Timestamps
        (THE dominant skipping predicate at 100 TB — every time-bounded
        query) serialize to fixed-width microsecond ISO strings, which
        compare lexicographically in chronological order; tz-aware
        values normalize to UTC first so a bound built in any zone
        prunes correctly. Dates use their ISO form the same way."""
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat(timespec="microseconds")
        if isinstance(v, _dt.date):
            return v.isoformat()
        return v

    def _bound_key(self, v):
        """Stat-key form of a SCAN BOUND. Differs from _stat_key on one
        case: a NAIVE datetime. File stats are UTC instants (parquet
        TIMESTAMP_MICROS), but the exact predicate `F.lit(bound)`
        interprets a naive Python datetime as OS-LOCAL wall time
        (PySpark's datetime→Catalyst conversion goes through
        time.mktime — the TZ env var, NOT spark.sql.session.timeZone;
        verified empirically, it is also what collect() hands back). A
        pruner that read the same naive value as UTC would, under any
        non-UTC process zone, prune files whose rows the filter keeps —
        silent row loss. So naive bounds are localized exactly the way
        the filter will localize them (astimezone() on a naive value
        applies the OS zone, mktime's twin), then UTC-normalized like
        every other stat."""
        return self._stat_key(self._probe_value(v))

    def _collect_footer_stats(self, files: list[str]) -> tuple[dict, dict]:
        """(stats, row_counts) for `files`, read from the parquet
        FOOTERS just written, one footer open per file (metadata-only —
        no data re-scan; the write-time cost Delta/Iceberg pay for the
        same reason).

        stats: per-file min/max per top-level primitive column. Columns
        whose statistics are absent or non-primitive are simply
        omitted — the scanner treats a missing stat as 'might match'
        (conservative, never wrong).

        row_counts: per-file row counts, recorded in the entry so
        COUNT(*) — the most common query there is — answers from the
        log with ZERO file opens."""
        import pyarrow.parquet as pq

        out: dict[str, dict[str, list]] = {}
        rows: dict[str, int] = {}
        for f in files:
            md = pq.ParquetFile(f).metadata
            rows[f] = md.num_rows
            per_col: dict[str, list] = {}
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    name = col.path_in_schema
                    if "." in name:  # nested leaves: skip
                        continue
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            continue
                    lo, hi = self._stat_key(lo), self._stat_key(hi)
                    if not (isinstance(lo, self._STATS_TYPES)
                            and isinstance(hi, self._STATS_TYPES)):
                        continue
                    if name in per_col:
                        per_col[name] = [min(per_col[name][0], lo),
                                         max(per_col[name][1], hi)]
                    else:
                        per_col[name] = [lo, hi]
            if per_col:
                out[f] = per_col
        return out, rows

    def _index_files(self, files: list[str],
                     bloom_cols: list[str] | None = None,
                     sum_cols: list[str] | None = None) -> dict:
        """The log records for NEW files — the one builder of per-file
        records (existing files carry theirs through _publish). Returns
        {kind: {file: record}}: `stats` and `row_counts` from one footer
        open per file, plus `blooms`/`sums` when the table declares
        those columns. Blooms and sums share ONE mergeSchema read of
        the files: a producer may legally append files that OMIT a
        committed column (_merged_schema allows it), and such a file
        reads that column as NULL instead of crashing."""
        stats, rows = self._collect_footer_stats(files)
        new = {"stats": stats, "row_counts": rows}
        if not (bloom_cols or sum_cols):
            return new
        src = (self.spark.read.option("mergeSchema", "true").parquet(*files)
               if files else None)
        if bloom_cols:
            new["blooms"] = self._collect_blooms(src, files, bloom_cols,
                                                 rows)
        if sum_cols:
            new["sums"] = self._collect_sums(src, files, sum_cols, rows)
        return new

    def _by_file(self, recs: dict, files: list[str], rows: dict,
                 empty: dict, what: str) -> dict:
        """Key a job's per-`input_file_name()` records back to the
        entry's paths. A file absent from the job output is legitimate
        only when its footer counted 0 rows (no batches, no groups) and
        records `empty`; a row-bearing file missing here means its URI
        did not normalize back to the entry path — refuse rather than
        record a silently-wrong empty record."""
        from urllib.parse import unquote, urlparse

        by_path = {unquote(urlparse(u).path): r for u, r in recs.items()}
        out = {}
        for f in files:
            got = by_path.get(os.path.abspath(f))
            if got is None:
                if rows[f] > 0:
                    raise ValueError(
                        f"lake table {self.path}: {what} could not match "
                        f"{f!r} to a scanned file URI — path "
                        f"normalization mismatch")
                got = empty
            out[f] = got
        return out

    def _collect_sums(self, src: DataFrame | None, files: list[str],
                      sum_cols: list[str], rows: dict) -> dict:
        """Per-file DECIMAL(38,6)-exact sums of `sum_cols` — the one
        write-time aggregate parquet footers cannot provide. Unlike
        min/max (footer metadata, free), each file's sum costs one
        pass over the file at COMMIT time — pay once at write, answer
        SUM/AVG forever from the log (stats()). ONE Spark job over
        `src` (the files' mergeSchema read) grouped by
        input_file_name. Decimal sums serialize as strings: exact,
        order-independent under any partitioning, and engine-portable
        (same value the full-scan SUM(CAST(col AS DECIMAL(38,6))) twin
        computes). A file whose rows read a column as NULL records
        [None, 0] for it."""
        from pyspark.sql import functions as F

        if not files:
            return {}
        present = [c for c in sum_cols if c in src.columns]
        if not present:
            # none of the files carry any sum column: every partial is
            # a NULL sum over zero non-null values — no scan, and no
            # file-URI matching to go wrong
            return {f: {c: [None, 0] for c in sum_cols} for f in files}
        aggs = []
        for i, c in enumerate(present):
            aggs += [
                F.sum(F.col(c).cast("decimal(38,6)")).alias(f"__s_{i}"),
                F.count(F.col(c)).alias(f"__n_{i}"),
            ]
        recs = {}
        for r in (src.select(F.input_file_name().alias("__f"), *present)
                  .groupBy("__f").agg(*aggs).collect()):
            rec = {c: [None, 0] for c in sum_cols}
            for i, c in enumerate(present):
                s, n = r[f"__s_{i}"], int(r[f"__n_{i}"])
                if s is None and n > 0:
                    # a NULL sum over non-null values is a decimal(38,6)
                    # OVERFLOW (non-ANSI sessions null instead of
                    # faulting) — refuse rather than record a partial
                    # indistinguishable from a legitimately all-null
                    # file, which would make stats() finite-but-wrong
                    raise ValueError(
                        f"lake table {self.path}: decimal(38,6) sum of "
                        f"{c!r} overflowed in {r['__f']!r} — cannot "
                        f"record an exact partial"
                    )
                # an all-NULL file's SUM is NULL and recorded as such:
                # SQL SUM ignores nulls, so it contributes NOTHING; the
                # non-null count rides along so stats() can also answer
                # true AVG(col) = SUM/COUNT(col)
                rec[c] = [str(s) if s is not None else None, n]
            recs[r["__f"]] = rec
        # a 0-row file has no group: SUM over zero rows is NULL
        return self._by_file(recs, files, rows,
                             {c: [None, 0] for c in sum_cols},
                             "_collect_sums")

    # -- per-file bloom index (equality skipping) --------------------------

    _BLOOM_BITS = 1 << 15  # 4 KiB per file per column
    _BLOOM_K = 4

    @staticmethod
    def _probe_value(v):
        """Normalize an equality-probe value the way the F.lit filter
        will interpret it: a NAIVE datetime means OS-local wall time
        (PySpark's time.mktime conversion — same rule as _bound_key),
        so it must become the same UTC instant the write-side stats and
        bloom keys were built from, or the probe would falsely skip the
        file holding the value under a non-UTC process zone."""
        import datetime as _dt

        if isinstance(v, _dt.datetime) and v.tzinfo is None:
            return v.astimezone(_dt.timezone.utc)
        return v

    @classmethod
    def _bloom_key(cls, value) -> str:
        """Canonical hash key for a bloom value. Numerics collapse to
        one spelling (int 5, numpy.int64(5) and 5.0 must all probe the
        same bits — a repr() split here would be a FALSE NEGATIVE, i.e.
        skipping a file that holds the value); a huge int that rounds
        in float does so identically at write and probe time, which at
        worst adds a false positive (safe). Everything else uses the
        stat-key repr (strings, dates)."""
        import numbers

        sk = cls._stat_key(value)
        if isinstance(sk, bool):
            return repr(sk)
        if isinstance(sk, numbers.Number):
            f = float(sk)
            return repr(int(f)) if f.is_integer() else repr(f)
        return repr(sk)

    @classmethod
    def _bloom_positions(cls, value) -> list[int]:
        """k bit positions for `value`, derived from one md5 — the same
        function at write (index build) and read (probe) time."""
        import hashlib

        h = hashlib.md5(cls._bloom_key(value).encode()).digest()
        x = int.from_bytes(h, "big")
        out = []
        for _ in range(cls._BLOOM_K):
            out.append(x % cls._BLOOM_BITS)
            x //= cls._BLOOM_BITS
        return out

    def _collect_blooms(self, src: DataFrame | None, files: list[str],
                        cols: list[str], rows: dict) -> dict:
        """Per-file Bloom filters over `cols`: a 4 KiB bitset each,
        built from a COLUMN-PRUNED read of the just-written file (the
        write-time cost Delta pays for its file-level bloom index).
        Serialized as hex into the log entry. Min/max stats answer
        range predicates on CLUSTERED columns; blooms answer EQUALITY
        probes on columns the layout was not sorted by — the
        needle-in-a-haystack lookup (one doc hash out of 100 TB) where
        every file's [min, max] spans the whole domain. A missing
        bloom means 'might match' (conservative, never wrong).

        Built DISTRIBUTEDLY, like _collect_sums: one Spark job scans
        `src` (the new files' mergeSchema read), each Arrow batch folds
        its values into a 4 KiB partial bitset per (file, column) —
        mapInArrow so the values hash from the SAME pyarrow `to_pylist`
        python objects the probe-side _bloom_key normalizes — partials
        OR-merge per file in an applyInPandas reduce, and only the
        merged 4 KiB bitsets ever reach the driver. (The first cut read every file's full
        bloom-column contents on the driver, row-by-row in Python — at
        100 TB a bloom-indexed commit was driver-bound and O(rows).)

        A file appended WITHOUT one of the bloom columns (legal column
        omission) reads that column as NULL under mergeSchema: nulls
        contribute no bits, so it records an all-zero bitset — "no
        value matches", which is exactly right for rows whose column
        IS NULL (equality never matches NULL)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if not files:
            return {}
        present = [c for c in cols if c in src.columns]
        if not present:
            return {}
        n_bytes = self._BLOOM_BITS // 8
        positions = type(self)._bloom_positions

        def batch_partials(it):
            import numpy as np
            import pyarrow as pa

            for rb in it:
                fnames = rb.column(0).to_pylist()
                by_file: dict[str, list[int]] = {}
                for i, fn in enumerate(fnames):
                    by_file.setdefault(fn, []).append(i)
                out_f, out_c, out_b = [], [], []
                for fn, idxs in by_file.items():
                    take = np.asarray(idxs)
                    for j, c in enumerate(present):
                        vals = rb.column(j + 1).take(
                            pa.array(take)).to_pylist()
                        bits = bytearray(n_bytes)
                        for v in vals:
                            if v is None:
                                continue
                            for p in positions(v):
                                bits[p >> 3] |= 1 << (p & 7)
                        out_f.append(fn)
                        out_c.append(c)
                        out_b.append(bytes(bits))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_f), pa.array(out_c),
                     pa.array(out_b, type=pa.binary())],
                    names=["__f", "__c", "__bits"])

        partial_schema = T.StructType([
            T.StructField("__f", T.StringType()),
            T.StructField("__c", T.StringType()),
            T.StructField("__bits", T.BinaryType()),
        ])

        def or_merge(pdf):
            import numpy as np
            import pandas as pd

            acc = np.zeros(n_bytes, dtype=np.uint8)
            for b in pdf["__bits"]:
                acc |= np.frombuffer(b, dtype=np.uint8)
            return pd.DataFrame({"__f": [pdf["__f"].iloc[0]],
                                 "__c": [pdf["__c"].iloc[0]],
                                 "__bits": [acc.tobytes()]})

        merged = (
            src.select(F.input_file_name().alias("__f"), *present)
            .mapInArrow(batch_partials, partial_schema)
            .groupBy("__f", "__c").applyInPandas(or_merge, partial_schema)
            .collect()
        )
        recs: dict[str, dict[str, str]] = {}
        for r in merged:
            recs.setdefault(r["__f"], {})[r["__c"]] = \
                bytes(r["__bits"]).hex()
        # a 0-row file has no batches: its all-zero bloom matches nothing
        return self._by_file(recs, files, rows,
                             {c: bytes(n_bytes).hex() for c in present},
                             "_collect_blooms")

    @classmethod
    def _bloom_may_contain(cls, hex_bits: str, value) -> bool:
        bits = bytes.fromhex(hex_bits)
        return all(bits[p >> 3] & (1 << (p & 7))
                   for p in cls._bloom_positions(value))

    def _next_version(self) -> int:
        head = self.current_version()
        return head + 1 if head is not None else 0

    def _publish(self, files: list[str], op: str,
                 txn_id: str | None, version: int | None = None,
                 schema=None, base: dict | None = None,
                 new: dict | None = None,
                 bloom_cols: list[str] | None = None,
                 sum_cols: list[str] | None = None,
                 deferred_deletes: list | None = None,
                 constraints: dict | None = None,
                 properties: dict | None = None,
                 column_map: dict | None = None,
                 phys_used: list | None = None,
                 generated: dict | None = None,
                 meta: dict | None = None) -> int:
        """Publish `files` as `version` (decided at TRANSACTION START —
        a transform computed against head N must not silently land on
        top of a competitor's N+1: that is a lost update, and the
        exclusive create is what surfaces it as ConcurrentWriteError).

        Per-file records follow their file: for each kind (stats,
        blooms, row_counts, sums) the entry holds `base`'s record for
        every listed file plus the records in `new` (_index_files'
        output for the files this commit wrote) — `base` is the entry
        the file list came from. `bloom_cols`, `sum_cols` and
        `deferred_deletes` default to `base`'s; [] clears. Blooms and
        sums are kept only while their column list is non-empty."""
        if version is None:
            version = self._next_version()
        base, new = base or {}, new or {}
        if bloom_cols is None:
            bloom_cols = base.get("bloom_cols")
        if sum_cols is None:
            sum_cols = base.get("sum_cols")
        if deferred_deletes is None:
            deferred_deletes = base.get("deferred_deletes")
        entry = {
            "version": version,
            "op": op,
            "txn_id": txn_id,
            "files": files,
            "n_files": len(files),
            "timestamp_ms": int(time.time() * 1000),
        }
        if schema is not None:
            # each version pins ITS OWN schema: reads resolve columns
            # from the log, not from an arbitrary parquet footer, and
            # time travel returns the schema that version actually had
            entry["schema"] = schema.json()
        for kind, kept in (("stats", True), ("blooms", bloom_cols),
                           ("row_counts", True), ("sums", sum_cols)):
            if kept and (kind in base or kind in new):
                old = base.get(kind, {})
                entry[kind] = {**{f: old[f] for f in files if f in old},
                               **new.get(kind, {})}
        if bloom_cols:
            entry["bloom_cols"] = bloom_cols
        if deferred_deletes:
            entry["deferred_deletes"] = deferred_deletes
        if sum_cols:
            entry["sum_cols"] = sum_cols
        # TABLE-PROPERTY carry-forward (constraints, Delta
        # TBLPROPERTIES, generated-column declarations, the column
        # map, and the retired-physical-name set): every commit
        # inherits each unless its caller sets it explicitly (the
        # set_*/drop_* APIs) or clears it ({} / []). The prior head is
        # always readable here — the caller just resolved it to pick
        # `version`. A missing prior entry (clone bases, expired log
        # prefix) legitimately means "nothing to carry"
        # (ValueError → {}); any OTHER read failure must propagate —
        # swallowing a transient backend error would silently drop
        # every standing contract from this and all future versions.
        # ONE prior-entry read serves all five (the write path pays a
        # single GET + parse, not five, on an object-store log).
        if version > 0 and (constraints is None or properties is None
                            or generated is None or column_map is None
                            or phys_used is None):
            try:
                prior = self._read_entry(version - 1)
            except ValueError:
                prior = {}
            if constraints is None:
                constraints = prior.get("constraints")
            if properties is None:
                properties = prior.get("properties")
            if generated is None:
                generated = prior.get("generated")
            if column_map is None:
                column_map = prior.get("column_map")
            if phys_used is None:
                # monotone history: once a logical column is dropped,
                # its physical name may never be assigned again (a
                # re-added column must NOT resurrect old bytes from
                # shared files)
                phys_used = prior.get("phys_used")
        if constraints:
            entry["constraints"] = constraints
        if properties:
            entry["properties"] = properties
        if generated:
            entry["generated"] = generated
        if column_map:
            entry["column_map"] = column_map
        if phys_used:
            entry["phys_used"] = sorted(set(phys_used))
        if meta:
            # per-COMMIT user metadata (Delta commitInfo userMetadata):
            # the reference attaches record_count/source/extracted_date
            # as S3 user metadata on every written object
            # (/root/reference/lambda/lambda_function.py:332-337); here
            # each commit's entry carries the same dict for its files,
            # readable through history()
            entry["meta"] = meta
        # the commit point: exactly one writer creates this entry
        # (O_EXCL locally, conditional PUT on object stores — the
        # CommitBackend seam is exactly this primitive)
        if not self.backend.put_if_absent(
                self._entry_path(version), json.dumps(entry)):
            raise ConcurrentWriteError(
                f"lake table {self.path}: version {version} was committed "
                f"by another writer — re-read the head and retry"
            )
        return version

    # -- schema tracking ---------------------------------------------------

    def _merged_schema(self, base_entry: dict, df: DataFrame,
                       evolve: bool) -> "T.StructType":
        """Validate an append's schema against the committed one and
        return the schema the new version records. Matching is by NAME
        (parquet reads are name-based under an explicit read schema, so
        column order may differ freely); nullability never blocks.

        An append may OMIT committed columns (its rows read them as
        null under the pinned schema — the standard partial-producer
        append). NEW columns require evolve=True (they read as null
        from older files). A TYPE change is always refused: under
        footer-resolved reads it is a silent coercion-or-null coin
        flip, and no widening semantics can make it safe."""
        from pyspark.sql import types as T

        committed = T.StructType.fromJson(json.loads(base_entry["schema"]))
        old = {f.name: f.dataType for f in committed.fields}
        new = {f.name: f.dataType for f in df.schema.fields}
        changed = sorted(n for n in old.keys() & new.keys()
                         if old[n] != new[n])
        if changed:
            raise SchemaMismatchError(
                f"lake table {self.path}: append changes column types "
                f"{changed} (committed vs incoming) — rewrite via a new "
                f"overwrite commit instead"
            )
        added = sorted(new.keys() - old.keys())
        if added and not evolve:
            raise SchemaMismatchError(
                f"lake table {self.path}: append adds columns {added}; "
                f"pass evolve=True to widen the table schema"
            )
        extra = [f for f in df.schema.fields if f.name not in old]
        return T.StructType(
            list(committed.fields)
            + [T.StructField(f.name, f.dataType, True) for f in extra]
        )

    def _map_for_write(self, schema, head_entry: dict | None
                       ) -> tuple[dict, list]:
        """Effective column map + retired-name list for a commit
        landing `schema` (logical) on top of `head_entry`. The map is
        a TABLE property: it survives overwrites like bloom_cols /
        constraints do. Brand-new logical columns keep identity
        physical names unless the name was ever retired (drop_column)
        or is another live column's physical — then a fresh suffixed
        name, so old bytes in shared files can never resurrect under a
        re-added column. On a table that never renamed or dropped,
        both are empty and every write path is byte-identical to the
        pre-mapping layout."""
        cmap = self._entry_cmap(head_entry)
        used = set((head_entry or {}).get("phys_used") or [])
        if not cmap and not used:
            return {}, []
        live = [f.name for f in schema.fields]
        out = {l: p for l, p in cmap.items() if l in live}
        vals = set(out.values())
        fresh = [l for l in live
                 if l not in out and (l in used or l in vals)]
        taken = vals | used | {l for l in live
                               if l not in out and l not in fresh}
        for l in fresh:
            i, p = 1, f"{l}__p1"
            while p in taken:
                i += 1
                p = f"{l}__p{i}"
            out[l] = p
            taken.add(p)
        return out, sorted(used)

    def commit(self, df: DataFrame, mode: str = "overwrite",
               txn_id: str | None = None, op: str | None = None,
               evolve: bool = False,
               bloom_cols: list[str] | None = None,
               sum_cols: list[str] | None = None,
               retries: int = 0,
               meta: dict | None = None) -> int:
        """Commit `df` as the next version. mode='overwrite' replaces
        the snapshot; mode='append' adds files to the current file list
        (unchanged files are SHARED with prior versions — no copy).
        With `txn_id`, a replay returns the original version.

        Every entry records the snapshot's SCHEMA; appends are validated
        against it before any file lands (SchemaMismatchError on drift;
        `evolve=True` permits add-column widening — see _merged_schema).

        `bloom_cols` attaches a per-file Bloom index over the listed
        columns (equality skipping for scan_point — see
        _collect_blooms); `sum_cols` records per-file decimal-exact
        sums of the listed numeric columns (_collect_sums), which lets
        stats() answer SUM/AVG from the log with zero files opened.
        Both are table properties: every commit inherits them when not
        given, pass [] to clear. Records are built only for the files
        a commit writes (_index_files); files it shares keep the
        records they already carry. So a column first declared on an
        append is indexed in the appended files only: scan_point keeps
        the older files (no bloom = might match) and stats() leaves the
        column's sum out until a full compact() rewrites every file.

        `retries` (append only): a blind append cannot conflict with a
        competitor's CONTENT — losing the version race just means the
        base file list moved. On ConcurrentWriteError the already-
        written data files are re-merged onto the new head (the schema
        gate re-validates against it) and the publish retried, so
        concurrent appenders all land without rewriting a byte —
        Delta's appends-never-conflict semantics. Overwrite is not
        auto-retryable: it replaces a snapshot the loser never saw, and
        that decision belongs to the caller."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unknown commit mode {mode!r}")
        if retries and mode != "append":
            raise ValueError("retries only apply to mode='append' — an "
                             "overwrite losing the race must re-decide "
                             "against the new head")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        new_files: list[str] | None = None
        validated_cons: dict = {}  # constraints this batch was gated on
        index_cache: dict = {}  # (bloom cols, sum cols) → new_files' records
        eff_cmap: dict = {}     # column map the files were written with
        eff_used: list = []
        map_active = False      # table carries mapping state at all
        map_sig = None          # head mapping state at write time
        for attempt in range(retries + 1):
            if attempt and txn_id is not None:
                # the competitor that beat us may have been a crashed
                # twin replaying OUR txn — re-check before re-publishing
                # or the same txn lands twice
                done = self._txn_version(txn_id)
                if done is not None:
                    # our attempt-0 files were never published and no
                    # entry will ever reference them — discard, or they
                    # are orphans vacuum() can never reclaim
                    self._discard_files(new_files or [])
                    return done
            base = self.current_version()
            version = base + 1 if base is not None else 0
            schema = df.schema
            head_entry = self._read_entry(base) if base is not None else None
            head_sig = (self._entry_cmap(head_entry),
                        set((head_entry or {}).get("phys_used") or []),
                        (head_entry or {}).get("generated") or {})
            if new_files is not None and head_sig != map_sig:
                # a competitor renamed/dropped a column — or declared
                # a GENERATED column — between our write and this
                # retry: the files on disk carry physical names (or
                # lack/diverge from a generated value) resolved
                # against table state that no longer holds; publishing
                # them would corrupt reads or break the generated
                # invariant, and the schema gate below would
                # misdiagnose a rename as drift. Metadata-only retry
                # cannot fix bytes; discard and surface.
                self._discard_files(new_files)
                raise ConcurrentWriteError(
                    f"lake table {self.path}: column mapping or "
                    f"generated declarations changed concurrently — "
                    f"re-invoke the commit")
            base_entry = head_entry if mode == "append" else None
            if base_entry is not None:
                if "schema" not in base_entry and base_entry["files"]:
                    # pre-schema-tier entry (hand-built / older log):
                    # the drift gate must still apply, so resolve the
                    # committed schema from the existing files' FOOTERS
                    # (mergeSchema unions every footer, metadata-only,
                    # and refuses incompatible types loudly) — pinning
                    # the incoming df.schema over legacy files would
                    # silently null any type-drifted legacy column
                    committed = (self.spark.read
                                 .option("mergeSchema", "true")
                                 .parquet(*base_entry["files"]).schema)
                    base_entry = {**base_entry, "schema": committed.json()}
                if "schema" in base_entry:
                    schema = self._merged_schema(base_entry, df, evolve)
            bc = bloom_cols
            if bc is None and head_entry is not None:
                # a table PROPERTY, not a per-commit flag: a routine
                # overwrite must not silently drop the bloom index
                # (pass bloom_cols=[] to clear it explicitly)
                bc = head_entry.get("bloom_cols")
            sc = sum_cols
            if sc is None and head_entry is not None:
                # same property semantics as bloom_cols
                sc = head_entry.get("sum_cols")
            head_cons = (head_entry or {}).get("constraints") or {}
            if new_files is None:
                # generated columns the batch OMITS are materialized
                # here (Delta GENERATED ALWAYS AS); provided ones must
                # carry the exact generated value. Then standing CHECK
                # constraints gate the rows — both BEFORE any file
                # lands (bounded aggregates over the batch).
                gen = (head_entry or {}).get("generated") or {}
                from pyspark.sql import functions as F
                for c, e in gen.items():
                    if c not in df.columns:
                        df = df.withColumn(c, F.expr(e))
                if gen:
                    # re-resolve: materialization may have added fields
                    schema = df.schema
                    if base_entry is not None and "schema" in base_entry:
                        schema = self._merged_schema(base_entry, df,
                                                     evolve)
                self._enforce_write_gates(df, head_entry, mode)
                validated_cons = head_cons
                # column mapping resolves against the SAME head the
                # files are written for; a retry re-checks the
                # signature above before re-validating anything
                eff_cmap, eff_used = self._map_for_write(
                    schema, head_entry)
                map_active = bool(head_sig[0] or head_sig[1])
                map_sig = head_sig
                # data files land ONCE; retries only re-publish metadata
                new_files = self._write_files(df, cmap=eff_cmap)
            elif head_cons != validated_cons:
                # a competitor published between attempts and the head
                # now carries constraints this batch was never checked
                # against — re-gate, or the new version would record a
                # constraint its own rows violate
                try:
                    self._enforce_constraints(df, head_entry, mode)
                except ConstraintViolationError:
                    # attempt-0 files were written but will never be
                    # published — reclaim them (vacuum can't: no entry
                    # ever references them)
                    self._discard_files(new_files)
                    raise
                validated_cons = head_cons
            if eff_cmap:
                # entry-level bloom/sum col lists are PHYSICAL (they
                # key into per-file records collected from the raw
                # files); user-passed names are logical — translate.
                # Inherited lists are already physical.
                if bloom_cols:
                    bc = [eff_cmap.get(c, c) for c in bloom_cols]
                if sum_cols:
                    sc = [eff_cmap.get(c, c) for c in sum_cols]
            key = (tuple(bc or ()), tuple(sc or ()))
            if key not in index_cache:
                index_cache[key] = self._index_files(new_files, bc, sc)
            new = index_cache[key]
            files = (new_files if base_entry is None
                     else base_entry["files"] + new_files)
            try:
                return self._publish(
                    files, op or mode, txn_id, version,
                    schema=schema, base=base_entry, new=new,
                    bloom_cols=bc, sum_cols=sc,
                    # explicit (not carry-forward) once mapping state
                    # exists: an overwrite narrowing away every mapped
                    # column must CLEAR the map, and appends record
                    # any fresh physical assignments
                    column_map=eff_cmap if map_active else None,
                    phys_used=(eff_used or None) if map_active else None,
                    # per-commit user metadata; record_count defaults
                    # to THIS batch's row count (from the write-time
                    # footers — no extra scan), the reference's
                    # per-object record_count semantics
                    meta=(None if meta is None else {
                        "record_count": sum(new["row_counts"].values()),
                        **meta}),
                    # pending merge-on-read deletes still cover the
                    # base files this append shares (scoped per-file,
                    # so the appended rows stay visible)
                    deferred_deletes=self._live_deferred(
                        (base_entry or {}).get("deferred_deletes"),
                        files))
            except ConcurrentWriteError:
                if attempt == retries:
                    # never published: discard our data files so the
                    # caller's full re-invocation (which rewrites) does
                    # not leak unreferenced orphans under data/
                    self._discard_files(new_files or [])
                    raise
        raise AssertionError("unreachable")

    def _discard_files(self, files: list[str]) -> None:
        for f in files:
            try:
                self.data_plane.remove(f)
            except OSError:
                pass

    def commit_expect(self, df: DataFrame, rules: dict[str, str],
                      mode: str = "overwrite",
                      on_violation: str = "quarantine",
                      txn_id: str | None = None,
                      quarantine_path: str | None = None,
                      evolve: bool = False) -> dict:
        """Commit `df` under row-level EXPECTATIONS (the Delta Live
        Tables shape): `rules` maps a rule name to a SQL boolean
        predicate over the batch's columns; a row is valid iff EVERY
        predicate is TRUE (a NULL predicate result is a violation, DLT
        semantics — an unknown is not a pass).

        on_violation:
        * "quarantine" (default): valid rows commit; violating rows
          land in a sibling LakeTable at `<path>_quarantine` (own
          versioned log, same backend) carrying `_violations`
          (the array of failed rule names) and `_src_version` (the
          version their valid siblings became) — quarantine is a TABLE
          you can query/replay/vacuum, not a log line.
        * "drop": valid rows commit, violating rows are discarded.
        * "fail": any violation refuses the WHOLE batch loudly
          (ExpectationViolationError names per-rule counts); nothing
          commits.

        Returns metrics: rows_in / rows_committed / rows_quarantined,
        per-rule violation counts, the new version, and the quarantine
        version (None unless quarantined). Scale shape: rule flags are
        one codegen'd projection; the batch is persisted once and read
        three ways (one bounded count aggregate + the two writes) —
        never re-derived from the upstream plan. Exactly-once: `txn_id`
        guards the valid commit and `<txn_id>:quarantine` the
        quarantine append, so a replay returns the original versions.
        """
        from pyspark.sql import functions as F

        if not rules:
            raise ValueError("commit_expect needs >=1 rule")
        for name in rules:
            if not name or name.startswith("_"):
                raise ValueError(
                    f"rule names starting with '_' are reserved: {name!r}")
        if on_violation not in ("fail", "drop", "quarantine"):
            raise ValueError(f"unknown on_violation={on_violation!r}: "
                             f"use 'fail', 'drop' or 'quarantine'")
        reserved = {"_violations", "_src_version"} & set(df.columns)
        if reserved:
            raise ValueError(f"batch columns collide with expectation "
                             f"bookkeeping columns: {sorted(reserved)}")
        names = sorted(rules)
        fails = [
            F.when(F.coalesce(F.expr(rules[n]), F.lit(False)),
                   F.lit(None).cast("string")).otherwise(F.lit(n))
            for n in names
        ]
        flagged = df.withColumn(
            "_violations",
            F.filter(F.array(*fails), lambda x: x.isNotNull()))
        flagged.persist()
        try:
            row = flagged.agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum((F.size("_violations") > 0).cast("long"))
                .alias("_bad"),
                *[F.sum(F.array_contains("_violations", n).cast("long"))
                  .alias(f"_r{i}") for i, n in enumerate(names)],
            ).collect()[0]
            n_in = row["_n"]
            n_bad = row["_bad"] or 0
            per_rule = {n: (row[f"_r{i}"] or 0)
                        for i, n in enumerate(names)}
            if on_violation == "fail" and n_bad:
                raise ExpectationViolationError(
                    f"lake table {self.path}: {n_bad} of {n_in} rows "
                    f"violate expectations "
                    f"{ {n: c for n, c in per_rule.items() if c} } — "
                    f"nothing committed (on_violation='fail')")
            valid = flagged.where(F.size("_violations") == 0).drop(
                "_violations")
            version = self.commit(valid, mode, txn_id=txn_id,
                                  evolve=evolve)
            q_version = None
            if on_violation == "quarantine" and n_bad:
                q = LakeTable(
                    self.spark,
                    quarantine_path or self.path.rstrip("/")
                    + "_quarantine",
                    backend=self.backend)
                bad_rows = flagged.where(
                    F.size("_violations") > 0).withColumn(
                    "_src_version", F.lit(version).cast("long"))
                q_version = q.commit(
                    bad_rows, "append",
                    txn_id=(f"{txn_id}:quarantine" if txn_id else None))
            return {
                "rows_in": n_in,
                "rows_committed": n_in - n_bad,
                "rows_quarantined": (n_bad if on_violation
                                     == "quarantine" else 0),
                "violations": per_rule,
                "version": version,
                "quarantine_version": q_version,
            }
        finally:
            flagged.unpersist()

    # -- read path ---------------------------------------------------------

    def read(self, version: int | str | None = None) -> DataFrame:
        """The snapshot at `version` (default: current head) — opens
        exactly the committed file list, no directory listing. A string
        `version` is a TAG name (resolve_tag)."""
        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        if isinstance(version, str):
            version = self.resolve_tag(version)
        entry = self._read_entry(head if version is None else version)
        if not entry["files"]:
            raise ValueError(
                f"lake table {self.path}: version {entry['version']} is empty"
            )
        return self._read_files(entry, entry["files"])

    def read_version_files(self, version: int,
                           files: list[str]) -> DataFrame:
        """The subset of `version`'s snapshot held in `files` (must be
        files the version committed), with the SAME scoped
        deferred-delete semantics as read(). The primitive incremental
        consumers (lakemv's file-pruned delta) use to scan only the
        files two versions do NOT share."""
        entry = self._read_entry(version)
        missing = set(files) - set(entry["files"])
        if missing:
            raise ValueError(
                f"lake table {self.path}: version {version} does not "
                f"contain {sorted(missing)[:3]}")
        return self._read_files(entry, list(files))

    @staticmethod
    def _range_pred(ranges: dict):
        """Conjunction Column for a column→(lo, hi) dict, NULL-safe
        (NULL never matches): the one predicate builder delete(),
        update(), and the deferred-delete read filter all share."""
        from pyspark.sql import functions as F

        pred = None
        for col, (lo, hi) in ranges.items():
            for cond in ([F.col(col) >= F.lit(lo)] if lo is not None
                         else []) + ([F.col(col) <= F.lit(hi)]
                                     if hi is not None else []):
                pred = cond if pred is None else pred & cond
        return F.coalesce(pred, F.lit(False))

    def _read_files(self, entry: dict, files: list[str]) -> DataFrame:
        # merge-on-read: deferred deletes (delete(defer=True)) are
        # predicates in the LOG, not rewritten bytes — every read path
        # (read/scan/scan_point/diff/changes and the rewrite ops that
        # materialize) funnels through here. Each predicate is SCOPED
        # to the files that existed when its delete committed (snapshot
        # semantics, like Delta's per-file deletion vectors): rows
        # appended or rewritten AFTER the delete are new data and must
        # not be hidden by an old predicate. Files are grouped by which
        # predicates cover them; each group reads once and the groups
        # union.
        deferred = entry.get("deferred_deletes", [])
        if not deferred or not files:
            return self._read_files_raw(entry, files)
        # legacy entries (pre-scoping) stored a bare ranges dict with no
        # file list: treat as covering the whole snapshot (old behavior)
        deferred = [d if ("ranges" in d or "keys" in d)
                    else {"ranges": d, "files": entry["files"]}
                    for d in deferred]
        covered = [set(d["files"]) for d in deferred]
        groups: dict[tuple, list[str]] = {}
        for f in files:
            sig = tuple(i for i, cov in enumerate(covered) if f in cov)
            groups.setdefault(sig, []).append(f)
        out = None
        for sig, fs in groups.items():
            df = self._read_files_raw(entry, fs)
            for i in sig:
                df = df.filter(~self._deferred_pred(deferred[i]))
            out = df if out is None else out.unionByName(df)
        return out

    def _deferred_pred(self, d: dict):
        """The positive match predicate of one deferred-delete entry —
        range-shaped ({"ranges": col → [lo, hi]}) or key-set-shaped
        ({"keys": col → [v, ...]}, delete_keys). NULL never matches
        either (SQL semantics: isin and range comparisons are NULL on
        NULL input, and the read filter coalesces to keep the row)."""
        from pyspark.sql import functions as F

        if "ranges" in d:
            return self._range_pred(
                {c: tuple(b) for c, b in d["ranges"].items()})
        (col, vals), = d["keys"].items()
        return F.coalesce(F.col(col).isin(vals), F.lit(False))

    def _read_files_raw(self, entry: dict, files: list[str]) -> DataFrame:
        if "schema" in entry:
            # schema comes from the LOG, not a parquet footer: after an
            # evolve-append, files written before the widening simply
            # read the added columns as null (name-based resolution)
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            pinned = T.StructType.fromJson(json.loads(entry["schema"]))
            if not files:
                # zero partitions: an empty side runs no tasks
                return self.spark.createDataFrame(
                    self.spark.sparkContext.emptyRDD(), pinned)
            cmap = self._entry_cmap(entry)
            if not cmap:
                return self.spark.read.schema(pinned).parquet(*files)
            # column mapping: files store PHYSICAL names — pin the
            # physical twin of the logical schema (name-based parquet
            # resolution, so a dropped column's retired physical bytes
            # are never even deserialized) and project back to the
            # version's logical names. Time travel composes free:
            # each entry carries the map its schema was written with.
            phys = T.StructType([
                T.StructField(cmap.get(f.name, f.name), f.dataType,
                              f.nullable)
                for f in pinned.fields])
            return (self.spark.read.schema(phys).parquet(*files)
                    .select(*[F.col(cmap.get(f.name, f.name))
                              .alias(f.name) for f in pinned.fields]))
        if not files:
            # no pinned schema (pre-schema-tier entry): borrow it from
            # the version's footers without scanning any data
            return self.spark.read.parquet(*entry["files"]).limit(0)
        return self.spark.read.parquet(*files)

    def scan(self, ranges: dict, version: int | None = None) -> DataFrame:
        """Data-skipping read: `ranges` maps column → (lo, hi) (either
        end None = unbounded). Files whose committed [min, max] cannot
        intersect every range are NEVER OPENED — the driver decides
        from the log alone, no footer reads, no tasks. The returned
        DataFrame also applies the exact predicate, so results equal
        read().filter(...) while touching a subset of files.

        This is the Delta/Iceberg data-skipping contract: at 100 TB a
        time-bounded or key-bounded query over a range-clustered table
        opens thousands of files instead of millions. Files with no
        recorded stat for a column are conservatively kept, so the
        pruning is an optimization, never a correctness bet."""
        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(head if version is None else version)
        keep, _never = self._split_files(entry, ranges)
        from pyspark.sql import functions as F

        df = self._read_files(entry, keep)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def _split_files(self, entry: dict, ranges: dict
                     ) -> tuple[list[str], list[str]]:
        """Split a version's file list on the DRIVER from the logged
        min/max stats alone: (maybe, never) — files whose stat box
        intersects every range vs files that PROVABLY hold no matching
        row. Comparison happens in stat-key space (timestamps/dates →
        fixed-width ISO strings; naive datetimes localized the way
        F.lit will localize them — _bound_key); a file with no recorded
        stat for a column is conservatively 'maybe'. scan() opens only
        `maybe`; delete() rewrites only `maybe` and SHARES `never`."""
        stats = entry.get("stats", {})
        cmap = self._entry_cmap(entry)
        keys = {cmap.get(col, col):
                (self._bound_key(lo) if lo is not None else None,
                 self._bound_key(hi) if hi is not None else None)
                for col, (lo, hi) in ranges.items()}
        maybe, never = [], []
        for f in entry["files"]:
            per_col = stats.get(f, {})
            ok = True
            for col, (lo, hi) in keys.items():
                if col not in per_col:
                    continue  # no stat → might match
                fmin, fmax = per_col[col]
                if (lo is not None and fmax < lo) or \
                        (hi is not None and fmin > hi):
                    ok = False
                    break
            (maybe if ok else never).append(f)
        return maybe, never

    def stats(self, version: int | None = None) -> dict:
        """Metadata-only aggregates from the LOG alone — zero files
        opened, zero tasks: `{"rows": <count(*)>, "min": {col: v},
        "max": {col: v}}`. The Delta/Spark metadata-only-query
        optimization: at 100 TB, COUNT(*)/MIN/MAX — the monitoring
        queries every pipeline fires constantly — should cost one small
        JSON read, not a table scan. min/max cover only columns where
        EVERY file carries the stat (a file with no recorded stat could
        hold the true extremum — omitting the column is the only honest
        answer); values are in stat-key space (timestamps as their
        UTC ISO-microsecond form). `rows` requires the version to carry
        per-file counts (every commit written since the row_counts
        tier does) — absent counts raise rather than guess."""
        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(head if version is None else version)
        if entry.get("deferred_deletes"):
            raise ValueError(
                f"lake table {self.path}: version {entry['version']} has "
                f"pending deferred deletes — physical row counts would "
                f"overcount; compact() to materialize first"
            )
        counts = entry.get("row_counts", {})
        missing = [f for f in entry["files"] if f not in counts]
        if missing:
            raise ValueError(
                f"lake table {self.path}: version {entry['version']} has "
                f"no row counts for {len(missing)} file(s) (pre-row_counts "
                f"commit) — use read() and aggregate"
            )
        stats = entry.get("stats", {})
        mins: dict = {}
        maxs: dict = {}
        # 0-row files (a CoW rewrite can empty a file) hold no extremum
        # and carry no footer stats — they must not veto a column
        data_files = [f for f in entry["files"] if counts[f] > 0]
        per_file = [stats.get(f, {}) for f in data_files]
        # per-file stats/sums are keyed by PHYSICAL name; report under
        # the version's LOGICAL names, and never report a retired
        # physical (a dropped column's stats stay in the files but are
        # not part of this version's schema)
        cmap = self._entry_cmap(entry)
        inv = {p: l for l, p in cmap.items()}
        live = (None if "schema" not in entry else
                {f.name for f in self._entry_schema(entry).fields})

        def _logical(col: str) -> str | None:
            name = inv.get(col, col)
            if live is not None and name not in live:
                return None
            return name

        if per_file:
            for col in set(per_file[0]):
                name = _logical(col)
                if name is not None and all(col in pc for pc in per_file):
                    mins[name] = min(pc[col][0] for pc in per_file)
                    maxs[name] = max(pc[col][1] for pc in per_file)
        # exact SUM from the per-file decimal sums (sum_cols tables):
        # string-decimal partials added with exact integer arithmetic,
        # cast to double only at the very end — the same value the
        # full-scan SUM(CAST(col AS DECIMAL(38,6))) twin produces,
        # including the NULL result when no file holds a non-null value
        # (a None partial is a NULL per-file SUM and contributes
        # nothing, exactly like SQL SUM). A column is reported only
        # when EVERY data file carries a recorded entry for it. Where
        # the entries carry per-file non-null counts ([sum, n] records;
        # legacy entries hold the bare sum string), true AVG(col) =
        # SUM(col)/COUNT(col) is answered too — NOT sum/rows, which
        # silently diverges on null-bearing columns.
        from decimal import Decimal

        sums_rec = entry.get("sums", {})
        sums: dict = {}
        avgs: dict = {}
        for col in entry.get("sum_cols") or []:
            name = _logical(col)
            if name is None:
                continue
            if not all(col in sums_rec.get(f, {}) for f in data_files):
                continue
            recs = [sums_rec[f][col] for f in data_files]
            vals = [r if isinstance(r, list) else [r, None] for r in recs]
            parts = [Decimal(s) for s, _n in vals if s is not None]
            sums[name] = float(sum(parts, Decimal(0))) if parts else None
            ns = [n for _s, n in vals]
            if all(n is not None for n in ns):
                n_nonnull = sum(ns)
                avgs[name] = (sums[name] / n_nonnull
                              if n_nonnull and sums[name] is not None
                              else None)
        return {"rows": sum(counts[f] for f in entry["files"]),
                "min": mins, "max": maxs, "sum": sums, "avg": avgs}

    def scan_point(self, eq: dict, version: int | None = None) -> DataFrame:
        """Equality-probe read: `eq` maps column → value. Two pruning
        passes run driver-side before Spark opens anything — the
        min/max boxes (degenerate [v, v] ranges) and, where the commit
        carries a per-file Bloom index over the column, the bloom
        probe. On a layout NOT clustered by the probed column the
        min/max pass keeps everything and the bloom does the work:
        a single-key lookup (one doc hash out of the corpus) opens the
        one-or-few files whose bloom fires instead of the whole table.
        Results are exact — the predicate applies on top, blooms only
        ever skip files that provably lack the value."""
        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(head if version is None else version)
        keep, _ = self._split_files(entry, {c: (v, v)
                                            for c, v in eq.items()})
        blooms = entry.get("blooms", {})
        kept = []
        cmap = self._entry_cmap(entry)
        # per-file blooms are keyed by PHYSICAL name (collected from
        # the raw files) — probe under the mapped key
        probes = {cmap.get(c, c): self._probe_value(v)
                  for c, v in eq.items()}
        for f in keep:
            per_col = blooms.get(f, {})
            if all(self._bloom_may_contain(per_col[c], pv)
                   for c, pv in probes.items() if c in per_col):
                kept.append(f)
        from pyspark.sql import functions as F

        df = self._read_files(entry, kept)
        for c, v in eq.items():
            df = df.filter(F.col(c) == F.lit(v))
        return df

    # -- operators that commit through the log -----------------------------

    def merge(self, source: DataFrame, key: str,
              txn_id: str | None = None) -> int:
        """MERGE INTO (update-else-insert by key) as a new commit —
        operators/upsert.merge_upsert against the current snapshot,
        published copy-on-write (the old version stays readable)."""
        from aws_data_pipeline_ads_spark.operators.upsert import merge_upsert

        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        base = self.current_version()
        if base is None:
            return self.commit(source, "overwrite", txn_id, op="merge")
        base_entry = self._read_entry(base)
        # every row merge introduces comes from `source` (matched rows
        # are replaced wholesale) — gate those, never rescan the table
        self._enforce_write_gates(source, base_entry, "merge")
        merged = merge_upsert(self.read(base), source, key)
        files = self._write_files(merged, cmap=self._entry_cmap(base_entry))
        return self._publish_rewrite(base_entry, "merge", txn_id, base + 1,
                                     [], files, schema=merged.schema)

    _MERGE_COVER_MAX_KEYS = 100_000  # driver-side source-key cap

    def merge_clauses(self, source: DataFrame, key: str,
                      matched_update: dict | None = None,
                      matched_delete: str | None = None,
                      insert: bool = True,
                      insert_condition: str | None = None,
                      txn_id: str | None = None,
                      evolve: bool = False) -> int:
        """Full Delta-style MERGE in one commit: WHEN MATCHED [AND
        cond] THEN UPDATE SET … / DELETE, WHEN NOT MATCHED THEN
        INSERT — the update/takedown/backfill trifecta `merge()`'s
        update-else-insert cannot express.

        `matched_update` maps target column → Column / SQL expression;
        `matched_delete` is a SQL boolean. Both evaluate against the
        ORIGINAL target row (simultaneous projection, SQL UPDATE
        semantics) with the matching source row's columns visible as
        `src_<col>`; a matched row hitting `matched_delete` is dropped
        (delete wins over update, Delta's clause order). `insert=True`
        appends source rows whose key has no target match —
        `insert_condition` (a SQL boolean over the SOURCE row's raw
        column names) narrows that to WHEN NOT MATCHED AND cond THEN
        INSERT, Delta's conditional-insert clause. `source` must be
        unique on `key` (checked, one bounded aggregate) and carry
        the target's columns for the insert path.

        Scale shape — the rewrite is COVER-SCOPED like delete_keys:
        the source's keys (collected driver-side up to
        _MERGE_COVER_MAX_KEYS; beyond that the scope falls back to the
        whole table) tighten through the commit-log stats + Bloom
        index to the files that can hold ANY source key. Untouched
        files are shared byte-for-byte; only covering files are read,
        left-joined against the broadcast source, and rewritten —
        bounded rewrite on a key-clustered table at any size, where
        merge()'s whole-snapshot rewrite is the unclustered fallback.
        Standing CHECK constraints gate every row the merge introduces
        (updated projections + inserts, both delta/cover-scoped).

        `evolve=True` is Delta's withSchemaEvolution(): NEW source
        columns widen the target schema as nullable fields — updated
        rows take them from `matched_update` when listed (else NULL),
        inserts carry them from the source, untouched files and
        non-matched kept rows read them as NULL under the pinned
        schema, and prior versions time-travel with their own
        schemas. Type changes on shared columns still refuse (same
        rule as commit(evolve=True)). Returns the new version."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        if matched_update is None and matched_delete is None \
                and not insert:
            raise ValueError("merge_clauses: at least one clause "
                             "(matched_update / matched_delete / "
                             "insert) is required")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        base = self.current_version()
        if base is None:
            if insert:
                first = (source if insert_condition is None
                         else source.where(F.expr(insert_condition)))
                return self.commit(first, "overwrite", txn_id,
                                   op="merge")
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(base)
        pinned = self._entry_schema(entry)
        if pinned is None:
            pinned = self.read(base).schema
        tcols = [f.name for f in pinned.fields]
        added: list[str] = []
        src_types = {f.name: f.dataType for f in source.schema.fields}
        if evolve:
            pin_types = {f.name: f.dataType for f in pinned.fields}
            drifted = sorted(n for n in pin_types.keys()
                             & src_types.keys()
                             if pin_types[n] != src_types[n])
            if drifted:
                raise SchemaMismatchError(
                    f"lake table {self.path}: merge changes column "
                    f"types {drifted} (committed vs source) — evolve "
                    f"only adds columns, never retypes them")
            added = [c for c in source.columns if c not in tcols]
        out_cols = tcols + added
        unknown = [c for c in (matched_update or {})
                   if c not in out_cols]
        if unknown:
            raise ValueError(f"merge_clauses: unknown target column "
                             f"{unknown[0]!r}"
                             + (" — pass evolve=True to add source "
                                "columns" if not evolve
                                and unknown[0] in source.columns
                                else ""))
        # the join frame exposes source columns as src_<col> plus a
        # __m marker — a target column occupying either name would
        # duplicate in the joined frame and surface later as an
        # opaque ambiguous-reference AnalysisException; refuse with
        # the column named instead
        clash = [c for c in tcols
                 if c == "__m" or (c.startswith("src_")
                                   and c[4:] in source.columns)]
        if clash:
            raise ValueError(
                f"merge_clauses: target column {clash[0]!r} collides "
                f"with the internal src_<col>/__m join names — rename "
                f"it before merging")
        # NULL keys are exempt: they never equality-match a target row,
        # so every NULL-keyed source row is an independent insert
        dup = (source.where(F.col(key).isNotNull())
               .groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
               .where(F.col("__n") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"merge_clauses: source holds duplicate key "
                f"{dup[0][key]!r} — MERGE requires a unique source key "
                f"(Delta raises the same multiple-matches error)")
        skeys = [r[0] for r in source.select(key).where(
            F.col(key).isNotNull())
            .limit(self._MERGE_COVER_MAX_KEYS + 1).collect()]
        if len(skeys) > self._MERGE_COVER_MAX_KEYS:
            cover = list(entry["files"])     # over cap: conservative
        else:
            cover = self._keyset_cover(entry, key, skeys)
        untouched = [f for f in entry["files"] if f not in set(cover)]

        src = source.select(
            F.col(key),
            *[F.col(c).alias(f"src_{c}") for c in source.columns
              if c != key],
            F.lit(1).alias("__m"))
        matched = F.col("__m").isNotNull()
        del_cond = (matched & F.coalesce(F.expr(matched_delete),
                                         F.lit(False))
                    if matched_delete is not None else F.lit(False))
        kept = None
        gate_parts: list[DataFrame] = []
        if cover:
            aff = (self._read_files(entry, cover)
                   .join(F.broadcast(src), key, "left"))
            sel = []
            for c in out_cols:
                # an evolved (added) column does not exist in the
                # target files: non-matched kept rows take NULL,
                # matched rows take the SET expression when listed
                base_col = (F.lit(None).cast(src_types[c])
                            if c in added else F.col(c))
                if matched_update and c in matched_update:
                    e = matched_update[c]
                    e = e if isinstance(e, Column) else F.expr(e)
                    sel.append(F.when(matched, e)
                               .otherwise(base_col).alias(c))
                else:
                    sel.append(base_col.alias(c) if c in added
                               else F.col(c))
            kept = aff.where(~del_cond).select(*sel)
            if matched_update:
                gate_parts.append(
                    aff.where(matched & ~del_cond).select(*sel))
        inserts = None
        if insert:
            cov_keys = (self._read_files(entry, cover).select(key)
                        if cover else None)
            inserts = (source.join(cov_keys, key, "left_anti")
                       if cov_keys is not None else source)
            if insert_condition is not None:
                inserts = inserts.where(F.expr(insert_condition))
            inserts = inserts.select(*out_cols)
            gate_parts.append(inserts)
        if gate_parts:
            # gate BEFORE any file lands (commit()'s posture) — a
            # refused merge must leave zero orphans
            gated = gate_parts[0]
            for p in gate_parts[1:]:
                gated = gated.unionByName(p)
            self._enforce_write_gates(gated, entry, "merge")
        new_files: list[str] = []
        if kept is not None:
            new_files += self._write_files(kept, cmap=self._entry_cmap(entry))
        if inserts is not None:
            new_files += self._write_files(inserts, cmap=self._entry_cmap(entry))
        widened = None
        if added:
            from pyspark.sql import types as T

            widened = T.StructType(
                list(pinned.fields)
                + [T.StructField(c, src_types[c], True)
                   for c in added])
        return self._publish_rewrite(entry, "merge", txn_id, base + 1,
                                     untouched, new_files,
                                     schema=widened)

    def delete(self, ranges: dict, txn_id: str | None = None,
               defer: bool = False) -> int:
        """Row-level DELETE; `ranges` is the same column → (lo, hi)
        dict scan() takes (either end None = unbounded; a row matches —
        and is deleted — only if it falls inside EVERY range; rows with
        NULL in a ranged column never match, standard SQL semantics).

        Default (copy-on-write): the commit-log min/max stats split the
        file list on the driver — files whose stat box cannot intersect
        the ranges keep all their rows by construction and are SHARED
        with the new version, zero bytes rewritten; only files that
        might hold matching rows are read, filtered with the exact
        negated predicate, and rewritten. Delta-style DELETE: bounded
        predicate → bounded rewrite. Old versions keep the original
        files (time travel intact).

        `defer=True` (merge-on-read): the delete is recorded as a
        PREDICATE in the log entry and NO data file is touched — an
        O(1) commit regardless of table size, the shape a takedown /
        right-to-be-erased queue needs at 100 TB (rows become invisible
        the instant the entry publishes; every read path applies the
        stored predicates). compact() materializes pending deferred
        deletes away; stats() refuses while any are pending (its row
        counts describe the physical files). Deferred bounds must be
        JSON-native (int/float/str/bool) — use the CoW path for
        timestamp bounds. Returns the new version."""
        if not ranges or all(lo is None and hi is None
                             for lo, hi in ranges.values()):
            raise ValueError("delete: at least one bounded range required")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        base = self.current_version()
        if base is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(base)
        if defer:
            for col, (lo, hi) in ranges.items():
                for b in (lo, hi):
                    if b is not None and not isinstance(
                            b, (int, float, str, bool)):
                        raise ValueError(
                            f"delete(defer=True): bound {b!r} for "
                            f"{col!r} is not JSON-native — use the "
                            f"copy-on-write path for typed bounds"
                        )
            return self._publish(
                entry["files"], "delete-defer", txn_id, base + 1,
                schema=self._entry_schema(entry),
                base=entry,
                deferred_deletes=(entry.get("deferred_deletes", [])
                                  + [{"ranges": {c: list(b) for c, b
                                                 in ranges.items()},
                                      # snapshot scope: the predicate
                                      # covers exactly the files that
                                      # exist NOW — later appends and
                                      # rewrites are new data
                                      "files": list(entry["files"])}]))
        affected, untouched = self._split_files(entry, ranges)
        new_files: list[str] = []
        if affected:
            kept = self._read_files(entry, affected).filter(
                # NULL never matches a delete predicate → keep the row
                ~self._range_pred(ranges))
            new_files = self._write_files(kept, cmap=self._entry_cmap(entry))
        return self._publish_rewrite(entry, "delete", txn_id, base + 1,
                                     untouched, new_files)

    def delete_keys(self, col: str, values: list,
                    txn_id: str | None = None,
                    defer: bool = False) -> int:
        """Row-level DELETE by KEY SET — the takedown / right-to-be-
        erased shape: "remove exactly these ids". Rows where `col` is
        IN `values` are deleted (NULL never matches, SQL semantics).

        The covering file set is tightened driver-side through the
        commit log's per-file min/max stats AND the Bloom index when
        `col` is bloom-indexed (commit(bloom_cols=[...])) — point
        lookups are exactly what the blooms exist for, so a 37-id
        takedown touches the handful of files that can hold those ids,
        not the table.

        Default (copy-on-write): only possibly-matching files are
        rewritten with the negated IN filter; everything else is
        SHARED. `defer=True` (merge-on-read): the key set is recorded
        as a predicate in the log — an O(1) commit at any table size;
        rows vanish from every read path instantly, compact()
        materializes pending sets away, stats() refuses while pending.
        Deferred values must be JSON-native. Returns the new version."""
        if not values:
            raise ValueError("delete_keys: at least one value required")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        base = self.current_version()
        if base is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(base)
        cover = self._keyset_cover(entry, col, values)
        if defer:
            for v in values:
                if not isinstance(v, (int, float, str, bool)):
                    raise ValueError(
                        f"delete_keys(defer=True): value {v!r} is not "
                        f"JSON-native — use the copy-on-write path")
            return self._publish(
                entry["files"], "delete-defer", txn_id, base + 1,
                schema=self._entry_schema(entry),
                base=entry,
                deferred_deletes=(entry.get("deferred_deletes", [])
                                  + [{"keys": {col: list(values)},
                                      # predicate scope: only the files
                                      # that can HOLD any of the keys —
                                      # tighter than the snapshot, so
                                      # downstream version diffs (MVs,
                                      # feeds) stay file-pruned
                                      "files": cover}]))
        from pyspark.sql import functions as F

        untouched = [f for f in entry["files"] if f not in set(cover)]
        new_files: list[str] = []
        if cover:
            kept = self._read_files(entry, cover).filter(
                ~F.coalesce(F.col(col).isin(values), F.lit(False)))
            new_files = self._write_files(kept, cmap=self._entry_cmap(entry))
        return self._publish_rewrite(entry, "delete", txn_id, base + 1,
                                     untouched, new_files)

    def _keyset_cover(self, entry: dict, col: str,
                      values: list) -> list[str]:
        """Files that might hold ANY of `values` in `col`: stat-box
        check first, then the per-file Bloom filter when indexed —
        conservative in every direction (missing stat / missing bloom
        keeps the file)."""
        import bisect

        stats = entry.get("stats", {})
        blooms = entry.get("blooms", {})
        # per-file stats/blooms are keyed by PHYSICAL name (the
        # _split_files/scan_point rule): probe under the mapped key,
        # or a post-rename takedown degrades to a full-table cover —
        # and a rename CYCLE (a→tmp, b→a) would read the WRONG
        # column's stat box and silently keep matching rows
        col = self._entry_cmap(entry).get(col, col)
        bloomed = col in (entry.get("bloom_cols") or [])
        # Keys and bloom probes go through the SAME localization the
        # F.isin filter applies (naive datetime = OS-local wall time →
        # UTC instant) — _bound_key/_probe_value, mirroring scan_point.
        # Using raw _stat_key here would, under a non-UTC process zone,
        # exclude files the IN filter matches: silent undeleted rows in
        # the takedown/erasure primitive.
        probes = [self._probe_value(v) for v in values]
        try:
            keyed = sorted({self._bound_key(v) for v in values})
            if any(k is None for k in keyed):
                keyed = None
        except TypeError:
            keyed = None
        out = []
        for f in entry["files"]:
            per_col = stats.get(f, {})
            if keyed is not None and col in per_col:
                lo, hi = per_col[col]
                try:
                    i = bisect.bisect_left(keyed, lo)
                    if i >= len(keyed) or keyed[i] > hi:
                        continue          # no value in the stat box
                except TypeError:
                    pass                  # incomparable → keep
            if bloomed and col in blooms.get(f, {}):
                if not any(self._bloom_may_contain(
                        blooms[f][col], v) for v in probes):
                    continue              # bloom excludes every value
            out.append(f)
        return out

    def _entry_schema(self, entry: dict):
        if "schema" not in entry:
            return None
        from pyspark.sql import types as T

        return T.StructType.fromJson(json.loads(entry["schema"]))

    def _publish_rewrite(self, entry: dict, op: str, txn_id: str | None,
                         version: int, untouched: list[str],
                         new_files: list[str], schema=None,
                         deferred_deletes: list | None = None) -> int:
        """Publish `untouched + new_files` on top of `entry`: the
        untouched files keep their log records (_publish's carry rule),
        `new_files` are indexed under the table's bloom/sum columns. A
        full rewrite (merge, compact, zorder) is the case `untouched=[]`.
        Schema is the entry's pinned schema unless `schema` overrides it
        (merge schema evolution); deferred deletes keep the predicates
        still covering a published file unless `deferred_deletes`
        overrides them.

        A publish that loses the head race (or any post-write failure)
        discards `new_files`: no entry will ever reference them, so
        vacuum could never reclaim the orphans — commit()'s retry path
        makes the same guarantee."""
        try:
            return self._publish_rewrite_inner(
                entry, op, txn_id, version, untouched, new_files,
                schema, deferred_deletes)
        except BaseException:
            self._discard_files(new_files)
            raise

    def _publish_rewrite_inner(self, entry: dict, op: str,
                               txn_id: str | None, version: int,
                               untouched: list[str],
                               new_files: list[str],
                               schema, deferred_deletes) -> int:
        files = untouched + new_files
        if schema is None:
            schema = self._entry_schema(entry)
        else:
            # schema evolution through a rewrite (merge evolve=True):
            # new logical columns land under identity physical names —
            # refuse names that were RETIRED by drop_column or are
            # another column's physical, or old bytes in the shared
            # `untouched` files would resurrect under the new column.
            # (Re-adding a dropped name is supported via commit(),
            # which assigns a fresh physical — see _map_for_write.)
            base_schema = self._entry_schema(entry)
            cmap = self._entry_cmap(entry)
            reserved = (set(entry.get("phys_used") or [])
                        | set(cmap.values()))
            prior_names = ({f.name for f in base_schema.fields}
                           if base_schema is not None else set())
            bad = sorted(f.name for f in schema.fields
                         if f.name not in prior_names
                         and f.name in reserved)
            if bad:
                raise SchemaMismatchError(
                    f"lake table {self.path}: evolved column(s) {bad} "
                    f"recycle a retired/mapped physical name — re-add "
                    f"via commit(evolve=True), which assigns a fresh "
                    f"physical name")
        if deferred_deletes is None:
            deferred_deletes = self._live_deferred(
                entry.get("deferred_deletes"), files)
        new = self._index_files(new_files, entry.get("bloom_cols"),
                                entry.get("sum_cols"))
        return self._publish(files, op, txn_id, version, schema=schema,
                             base=entry, new=new,
                             deferred_deletes=deferred_deletes)

    @staticmethod
    def _live_deferred(deferred, files) -> list:
        """Deferred predicates still covering at least one published
        file; a predicate whose covered files were all rewritten is
        fully materialized and drops out of the entry."""
        fs = set(files)
        return [d for d in deferred or [] if fs & set(d["files"])]

    def update(self, ranges: dict, set_exprs: dict,
               txn_id: str | None = None, defer: bool = False) -> int:
        """Row-level UPDATE as a copy-on-write commit: rows matching
        every range get each `set_exprs` column replaced (values are
        pyspark Columns or SQL expression strings; the rest of the row
        is untouched), all other rows pass through unchanged. File
        handling is delete()'s stats-driven split: files that cannot
        contain matching rows are SHARED, only possibly-matching files
        are rewritten with the CASE WHEN expression — Delta-style
        UPDATE, bounded rewrite at any table size. NULL in a ranged
        column never matches. Returns the new version.

        `defer=True` (merge-on-read UPDATE): ONE commit that records
        the ranges as a deferred-delete predicate scoped to the
        current files (hiding the old images) and appends fresh files
        holding ONLY the post-image rows — the write is O(changed
        rows), not O(covered files): on a 100 TB table where CoW
        would rewrite every covered file for a few changed rows, the
        deferred path writes just the changed rows and one log entry.
        Reads see the new images immediately (the appended files
        post-date the predicate's snapshot scope, so it never hides
        them); compact() materializes as usual; stats() refuses while
        pending, like delete(defer=True), whose JSON-native bound
        rule applies."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        if not ranges or all(lo is None and hi is None
                             for lo, hi in ranges.values()):
            raise ValueError("update: at least one bounded range required")
        if not set_exprs:
            raise ValueError("update: set_exprs must not be empty")
        if defer:
            for col, (lo, hi) in ranges.items():
                for b in (lo, hi):
                    if b is not None and not isinstance(
                            b, (int, float, str, bool)):
                        raise ValueError(
                            f"update(defer=True): bound {b!r} for "
                            f"{col!r} is not JSON-native — use the "
                            f"copy-on-write path for typed bounds")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        base = self.current_version()
        if base is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(base)
        pinned = self._entry_schema(entry)
        known = ([f.name for f in pinned.fields] if pinned is not None
                 else self._read_files_raw(entry, entry["files"]).columns)
        unknown = [c for c in set_exprs if c not in known]
        if unknown:
            # validated BEFORE the stats split: a typo'd column must
            # fail even when pruning leaves no affected files
            raise ValueError(f"update: unknown column {unknown[0]!r}")
        affected, untouched = self._split_files(entry, ranges)
        pred = self._range_pred(ranges)
        if defer:
            return self._update_deferred(entry, ranges, set_exprs,
                                         affected, pred, txn_id,
                                         base + 1)
        new_files: list[str] = []
        if affected:
            df = self._read_files(entry, affected)
            # ONE simultaneous projection, SQL UPDATE semantics: every
            # SET right-hand side AND the predicate evaluate against
            # the ORIGINAL row. A sequential withColumn chain would let
            # a SET on a ranged column flip the predicate for later
            # columns, and a column swap ({a: b, b: a}) would read
            # already-updated values.
            proj = []
            for c in df.columns:
                if c in set_exprs:
                    expr = set_exprs[c]
                    val = expr if isinstance(expr, Column) else F.expr(expr)
                    proj.append(
                        F.when(pred, val).otherwise(F.col(c)).alias(c))
                else:
                    proj.append(F.col(c))
            updated = df.select(*proj)
            # gate the POST-image of the rows the predicate touches —
            # an UPDATE must not be a constraint (or generated-column)
            # bypass
            self._enforce_write_gates(updated.where(pred), entry,
                                      "update")
            new_files = self._write_files(updated, cmap=self._entry_cmap(entry))
        return self._publish_rewrite(entry, "update", txn_id, base + 1,
                                     untouched, new_files)

    def _update_deferred(self, entry: dict, ranges: dict,
                         set_exprs: dict, affected: list[str], pred,
                         txn_id: str | None, version: int) -> int:
        """The merge-on-read UPDATE publish: post-image rows of the
        stats-pruned `affected` files land as NEW files; the ranges
        become a deferred-delete predicate scoped to the PRIOR file
        list (old images invisible, new images — outside the scope —
        visible). Every prior file is shared; a lost publish race
        discards the fresh files like every other write path."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        new_files: list[str] = []
        if affected:
            df = self._read_files(entry, affected).where(pred)
            # simultaneous projection against the ORIGINAL row (the
            # rows are pre-filtered, so no CASE WHEN needed)
            proj = []
            for c in df.columns:
                if c in set_exprs:
                    expr = set_exprs[c]
                    val = expr if isinstance(expr, Column) else F.expr(expr)
                    proj.append(val.alias(c))
                else:
                    proj.append(F.col(c))
            changed = df.select(*proj)
            self._enforce_write_gates(changed, entry, "update")
            new_files = self._write_files(changed, cmap=self._entry_cmap(entry))
        deferred = (entry.get("deferred_deletes", [])
                    + [{"ranges": {c: list(b) for c, b in ranges.items()},
                        # snapshot scope: hides matches only in files
                        # that existed BEFORE this commit — the
                        # post-image files land outside it
                        "files": list(entry["files"])}])
        return self._publish_rewrite(entry, "update-defer", txn_id, version,
                                     entry["files"], new_files,
                                     deferred_deletes=deferred)

    # -- operators that commit through the log -----------------------------

    def restore(self, version: int | str,
                txn_id: str | None = None) -> int:
        """Re-publish an old version's exact snapshot (file list,
        schema, stats) as a NEW head commit — the undo that never loses
        history and never copies data: every file is shared with the
        restored version (vacuum keeps them as long as the new head is
        retained). The bad commit stays readable for forensics. A
        string `version` is a tag name (restore("release-v1"))."""
        if isinstance(version, str):
            version = self.resolve_tag(version)
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        base = self.current_version()
        if base is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(version)  # ValueError if absent
        gone = [f for f in entry["files"]
                if not self.data_plane.exists(f)]
        if gone:
            # restoring past a vacuum would publish a head whose reads
            # fail at scan time — refuse at commit time instead
            raise ValueError(
                f"lake table {self.path}: cannot restore version "
                f"{version} — {len(gone)} of its data files were "
                f"vacuumed (first: {gone[0]})"
            )
        # the restored snapshot's column map is pinned EXPLICITLY (the
        # default carry-forward would borrow the bad head's map, which
        # may not match the restored schema). Retired physical names
        # union with the current head's set (a restore skipping past a
        # drop_column must not free the name for resurrection) — MINUS
        # the physicals live in the restored schema: a column the
        # restored snapshot legitimately stores becomes live again,
        # and leaving it "retired" would force a fresh physical on the
        # next append, nulling it out of the restored files
        head_used = set(self._read_entry(base).get("phys_used") or [])
        rcmap = self._entry_cmap(entry)
        rschema = self._entry_schema(entry)
        live_phys = ({rcmap.get(f.name, f.name) for f in rschema.fields}
                     if rschema is not None else set())
        used = sorted((set(entry.get("phys_used") or []) | head_used)
                      - live_phys)
        return self._publish(entry["files"], "restore", txn_id, base + 1,
                             schema=self._entry_schema(entry),
                             base=entry,
                             column_map=entry.get("column_map") or {},
                             generated=entry.get("generated") or {},
                             # an empty list CLEARS (not carries): a
                             # restore that re-lives every retired
                             # physical must not inherit the head's set
                             phys_used=used)

    def diff(self, v_old: int, v_new: int, key: str,
             content_cols: list[str]) -> DataFrame:
        """Snapshot CDC between two COMMITTED versions — the change a
        rebuild published, straight from the log (upsert.snapshot_diff
        over the two file-list reads; the only shuffle carries
        (key, md5) pairs)."""
        from aws_data_pipeline_ads_spark.operators.upsert import snapshot_diff

        return snapshot_diff(
            self.read(v_old), self.read(v_new), key, content_cols
        )

    def changes(self, v_from: int, v_to: int, key: str,
                content_cols: list[str]) -> DataFrame:
        """Multi-version CDC feed: every added/removed/changed row
        between consecutive commits in (v_from, v_to], each tagged with
        the version that introduced it — the 'give me everything since
        version N' contract an incremental consumer (downstream dedup,
        index refresh, replication) reads instead of re-diffing full
        snapshots. Each step reduces to (key, md5) before its only
        shuffle, same as diff()."""
        from pyspark.sql import functions as F

        if not v_from < v_to:
            raise ValueError(f"changes: need v_from < v_to, "
                             f"got {v_from} >= {v_to}")
        out = None
        for v in range(v_from, v_to):
            step = self.diff(v, v + 1, key, content_cols).withColumn(
                "version", F.lit(v + 1).cast("long"))
            out = step if out is None else out.unionByName(step)
        return out

    def compact(self, target_bytes: int = 128 * 1024 * 1024,
                incremental: bool = False) -> int:
        """OPTIMIZE through the log: rewrite the current snapshot into
        ≈target_bytes files as a NEW version. No directory swap, no
        reader-visible gap — old versions keep their (immutable) files
        until vacuum; the atomic publish is the same exclusive-create
        every commit uses. A full compact also MATERIALIZES pending
        deferred deletes (the read feeding the rewrite applies them)
        and clears them from the new entry.

        `incremental=True` rewrites ONLY the small-file tail (files
        under target_bytes/2) and shares every right-sized file
        byte-for-byte — the form OPTIMIZE must take at 100 TB, where a
        streaming ingest accretes thousands of small files per day and
        a full rewrite of the snapshot is off the table. Returns the
        current version unchanged when fewer than two small files
        exist (nothing to merge). Pending deferred deletes are
        materialized for the rewritten files and PRESERVED in the
        entry (the untouched files still hold those rows physically) —
        idempotent on re-application."""
        import math

        base = self.current_version()
        if base is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(base)
        if incremental:
            sizes = {f: self.data_plane.size(f) for f in entry["files"]}
            small = [f for f in entry["files"]
                     if sizes[f] < target_bytes // 2]
            if len(small) < 2:
                return base  # nothing worth merging
            big = [f for f in entry["files"] if sizes[f] >= target_bytes // 2]
            n = max(1, math.ceil(sum(sizes[f] for f in small)
                                 / target_bytes))
            merged = self._read_files(entry, small).repartition(n)
            new_files = self._write_files(merged, cmap=self._entry_cmap(entry))
            return self._publish_rewrite(entry, "compact", None, base + 1,
                                         big, new_files)
        total = sum(self.data_plane.size(f) for f in entry["files"])
        n = max(1, math.ceil(total / target_bytes))
        compacted = self.read(base).repartition(n)
        files = self._write_files(compacted, cmap=self._entry_cmap(entry))
        return self._publish_rewrite(entry, "compact", None, base + 1,
                                     [], files, schema=compacted.schema)

    def optimize_zorder(self, cols: list[str], n_files: int = 16,
                        bits: int = 10, curve: str = "morton") -> int:
        """OPTIMIZE ZORDER through the log: rewrite the current snapshot
        range-partitioned by a space-filling-curve key over `cols`,
        published as a NEW version whose per-file stats then let scan()
        prune on ANY of the listed columns — not just a single leading
        sort key. Each output file covers a compact box of the
        multi-dimensional space; the recorded min/max boxes are what
        make a two-column range scan open a subset of files. Same
        commit protocol as compact: copy-on-write, no reader-visible
        gap.

        `curve` picks the key: "morton" (default — pure expressions,
        operators/partitioning.zorder_key) or "hilbert"
        (partitioning.hilbert_key, Skilling transform: unit-step curve,
        tighter per-file boxes; write-side Arrow UDF). Readers never
        see the difference — only the file boxes do."""
        from aws_data_pipeline_ads_spark.operators.partitioning import (
            hilbert_key,
            zorder_key,
        )

        if curve not in ("morton", "hilbert"):
            raise ValueError(f"unknown curve {curve!r}")
        key_fn = zorder_key if curve == "morton" else hilbert_key
        base = self.current_version()
        if base is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        keyed, z = key_fn(self.read(base), cols, bits)
        helper = [c for c in keyed.columns
                  if c.startswith("__mn_") or c.startswith("__mx_")]
        clustered = (
            keyed.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .drop("__z", *helper)
        )
        base_entry = self._read_entry(base)
        files = self._write_files(
            clustered, cmap=self._entry_cmap(base_entry))
        return self._publish_rewrite(base_entry, "zorder", None, base + 1,
                                     [], files, schema=clustered.schema)

    def commit_audited(self, df: DataFrame, mode: str = "overwrite",
                       check=None, txn_id: str | None = None,
                       **kwargs) -> int:
        """Write-audit-publish: commit `df`, run `check` (a callable
        receiving the NEW head's DataFrame — count floors, null gates,
        schema probes, anything) and, if it returns falsy or raises,
        RESTORE the prior head and re-raise/raise — the bad data never
        stays current, and the failed version remains in history for
        forensics (read(v) still works until vacuum).

        Caveat vs true branch isolation: the log is linear, so a
        concurrent reader can observe the audited version during the
        check window. For the strict zero-exposure variant, land in a
        second staging LakeTable and commit_audited the validated read
        into the serving table. A failed audit on the FIRST commit of
        an empty table cannot restore (no prior head) — the failure
        propagates with the table left at the bad v0; callers starting
        a table should validate before the first commit.

        Concurrent WRITERS: if another commit lands between the audited
        version and the restore, restoring would silently supersede it
        (its rows would vanish from the new head). The restore is
        therefore guarded — it only proceeds while the audited version
        is still the head; otherwise the failure propagates with the
        log left as-is for explicit resolution (restore() further back,
        or re-audit the advanced head)."""
        prior = self.current_version()
        v = self.commit(df, mode, txn_id=txn_id, **kwargs)
        try:
            ok = check(self.read(v)) if check is not None else True
        except Exception:
            self._audit_restore(v, prior)
            raise
        if not ok:
            self._audit_restore(v, prior)
            raise ValueError(
                f"lake table {self.path}: audit rejected version {v}"
                + ("" if prior is None else
                   f" — restored head to version {prior}'s snapshot"))
        return v

    def _audit_restore(self, audited: int, prior: int | None) -> None:
        """Restore `prior` after a failed audit — ONLY if `audited` is
        still the head. A concurrent commit that advanced the head is
        NOT ours to clobber: raise and leave the log for manual
        resolution instead of silently superseding the other writer."""
        if prior is None:
            return
        head = self.current_version()
        if head != audited:
            raise RuntimeError(
                f"lake table {self.path}: audit of version {audited} "
                f"failed, but a concurrent writer advanced the head to "
                f"{head} — not auto-restoring (it would supersede that "
                f"commit). Resolve explicitly: re-audit the new head, or "
                f"restore({prior}) to discard both.")
        self.restore(prior)

    # -- tags (named immutable version refs, Iceberg-style) ------------------

    def _tag_path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("_") or "." in name:
            raise ValueError(f"invalid tag name {name!r}")
        return os.path.join(self.log_dir, f"_tag_{name}.json")

    def tag(self, name: str, version: int | None = None,
            force: bool = False) -> int:
        """Pin `name` to `version` (default: head). Tags are IMMUTABLE
        by default — re-pointing a published name silently would break
        every consumer reading by it; `force=True` moves it explicitly
        (a CAS replace, never a blind overwrite). Tagged versions are
        protected from vacuum: a tag is a retention promise, not just
        an alias."""
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"lake table {self.path}: no commits to tag")
        self._read_entry(v)  # ValueError if the version does not exist
        data = json.dumps({"name": name, "version": v})
        path = self._tag_path(name)
        if self.backend.put_if_absent(path, data):
            return v
        if not force:
            cur = json.loads(self.backend.get(path) or "{}")
            raise ValueError(
                f"lake table {self.path}: tag {name!r} already points at "
                f"version {cur.get('version')} — tags are immutable "
                f"(force=True to move)")
        while True:
            prev = self.backend.get(path)
            if prev is None:
                if self.backend.put_if_absent(path, data):
                    return v
                continue
            if self.backend.put_if_match(path, data, prev):
                return v

    def tags(self) -> dict[str, int]:
        """name → version for every tag."""
        out: dict[str, int] = {}
        for f in self.backend.list(self.log_dir):
            if f.startswith("_tag_") and f.endswith(".json"):
                t = json.loads(
                    self.backend.get(os.path.join(self.log_dir, f)))
                out[t["name"]] = int(t["version"])
        return out

    def resolve_tag(self, name: str) -> int:
        s = self.backend.get(self._tag_path(name))
        if s is None:
            raise ValueError(
                f"lake table {self.path}: no tag named {name!r}")
        return int(json.loads(s)["version"])

    def delete_tag(self, name: str) -> None:
        """Drop the ref (the version and its entry remain; the next
        vacuum may reclaim its files if nothing else retains them)."""
        self.backend.delete(self._tag_path(name))

    def feed_changes(self, consumer: str, key: str,
                     cols: list[str] | None = None):
        """Incremental CHANGE FEED with per-consumer offsets — the
        generic "what changed since I last looked" primitive downstream
        incremental jobs need (the same signed-delta machinery the
        materialized views consume, exposed as an API).

        Returns (delta, head): `delta` is the signed row delta
        (`cols` + __sign, +1 appeared / −1 disappeared; file-pruned
        and compaction-aware — lakemv.signed_span_delta) between the
        consumer's last ACKNOWLEDGED version and the current head — or
        the FULL head as +1 rows on first call (initial load), or None
        when there is nothing new. `key` must be unique per snapshot
        (NULL-keyed rows never cancel: they come as unconditional ±
        rows, same contract as the views).

        Offsets are stored as retention TAGS (`feed-<consumer>`), which
        buys the critical property for free: the files a consumer still
        needs for its NEXT delta are vacuum-protected until it acks
        forward. Delivery is at-least-once: re-calling before
        ack_feed() returns the same delta; crash after processing but
        before ack → the delta is re-delivered (consumers must be
        idempotent, the standard CDC contract).

        Error semantics: the delta is LAZY, so the key-uniqueness
        guard (part of the delta's one key window — see
        lakemv.signed_frame_delta) raises at ACTION time, not here,
        and surfaces as a generic Spark execution error whose message
        contains 'signed-delta key not unique'. Wrap the consuming
        action with lakemv.typed_dup_errors() to get the typed
        DuplicateKeyError the materialized-view refresh() methods
        raise."""
        from aws_data_pipeline_ads_spark.lakemv import signed_span_delta

        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        if cols is None:
            cols = [c for c in self.read(head).columns if c != key]
        cols = [key] + [c for c in cols if c != key]
        name = f"feed-{consumer}"
        last = self.tags().get(name)
        if last is None:
            from pyspark.sql import functions as F

            return (self.read(head).select(*cols)
                    .withColumn("__sign", F.lit(1)), head)
        if last == head:
            return None, head
        if last > head:
            raise ValueError(
                f"lake table {self.path}: consumer {consumer!r} acked "
                f"version {last} but head is {head} — the table was "
                f"rewound past the feed; reset the consumer (delete "
                f"tag {name!r}) for a fresh initial load")
        return signed_span_delta(self, key, cols, last, head), head

    def ack_feed(self, consumer: str, version: int) -> None:
        """Advance `consumer`'s offset to `version` (from the tuple
        feed_changes returned) — the commit point of at-least-once
        delivery. Moves the retention tag, releasing vacuum protection
        for files only older deltas needed."""
        self.tag(f"feed-{consumer}", version, force=True)

    def feed_changes_cdc(self, consumer: str, key: str,
                         cols: list[str] | None = None):
        """feed_changes with Delta-CDF-style row classification: the
        signed delta's ± rows pair up per key into `_change_type` ∈
        insert / delete / update_preimage / update_postimage (a key
        appearing with BOTH signs in one delta is an update — its −
        row is the pre-image, its + row the post-image). Offsets/ack
        semantics are feed_changes' verbatim; returns (df, head) with
        `_change_type` replacing `__sign`, or (None, head).

        NULL-keyed rows have no cross-version identity (the feed's
        documented contract), so they can never classify as updates:
        their spurious ± re-emission pairs are first cancelled by NET
        row content (the kmv-gate rule — a cancelled pair touched
        nothing), and genuine net appearances/disappearances classify
        as insert/delete with multiplicity |net|."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        delta, head = self.feed_changes(consumer, key, cols)
        if delta is None:
            return None, head
        out_cols = [c for c in delta.columns if c != "__sign"]
        keyed = delta.where(F.col(key).isNotNull())
        w = W.partitionBy(key)
        signs = F.collect_set("__sign").over(w)
        classified = keyed.select(
            *out_cols,
            F.when(F.array_contains(signs, 1)
                   & F.array_contains(signs, -1),
                   F.when(F.col("__sign") == 1,
                          F.lit("update_postimage"))
                   .otherwise(F.lit("update_preimage")))
            .when(F.col("__sign") == 1, F.lit("insert"))
            .otherwise(F.lit("delete")).alias("_change_type"))
        nulls = (delta.where(F.col(key).isNull())
                 .groupBy(*out_cols)
                 .agg(F.sum("__sign").alias("__net"))
                 .where(F.col("__net") != 0))
        null_rows = (nulls.select(
            *out_cols,
            F.when(F.col("__net") > 0, F.lit("insert"))
            .otherwise(F.lit("delete")).alias("_change_type"),
            F.expr("explode(sequence(1, abs(__net)))").alias("__i"))
            .drop("__i"))
        return classified.unionByName(null_rows), head

    def replicate_to(self, target: "LakeTable", consumer: str,
                     key: str) -> int | None:
        """CDC REPLICATION: apply this table's pending change feed to
        `target` so that after every call `target` equals this
        table's state as of the consumed head — the downstream-copy /
        disaster-recovery loop, composed entirely from the existing
        primitives (feed_changes_cdc classifies, merge_clauses
        applies, the feed offset is the replication cursor).

        One target commit per call: post-images and inserts UPSERT
        (WHEN MATCHED UPDATE all columns / WHEN NOT MATCHED AND
        action='u' INSERT), deletes drop (WHEN MATCHED AND action='d'
        DELETE); a delete for a key the replica never had is a no-op
        (the conditional insert excludes it). Exactly-once end to
        end: the target commit rides txn id
        `cdc-apply:<consumer>:<head>` and the feed is acked only
        AFTER it publishes — a crash between the two re-delivers the
        delta and the target answers the replay from its log.

        The target is OWNED by the replication loop: the feed only
        ever touches source-keyed rows, so rows that were never in the
        source could otherwise survive every sync and the
        target-equals-source promise would be false. The initial full
        sync therefore refuses a pre-populated target (checked here;
        exempting the exactly-once replay of our own first commit).

        NULL-keyed DELETES refuse loudly: a NULL key has no
        cross-table identity to apply a deletion by (the feed's
        documented contract); replicate NULL-keyed data with a
        surrogate key instead. Returns the TARGET's committed
        version, or None when the replica was already current; the
        consumed source head is readable as the feed offset tag
        (tags()['feed-<consumer>'])."""
        from pyspark.sql import functions as F

        initial = self.tags().get(f"feed-{consumer}") is None
        cdc, head = self.feed_changes_cdc(consumer, key)
        if cdc is None:
            return None
        txn = f"cdc-apply:{consumer}:{head}"
        cols = [c for c in cdc.columns if c != "_change_type"]
        if cdc.where(F.col(key).isNull()
                     & (F.col("_change_type") == "delete"))\
                .limit(1).collect():
            raise ValueError(
                "replicate_to: the delta carries a NULL-keyed DELETE, "
                "which has no key identity to apply — replicate "
                "NULL-keyed data under a surrogate key")
        src = (cdc.where(F.col("_change_type") != "update_preimage")
               .select(*cols,
                       F.when(F.col("_change_type") == "delete",
                              F.lit("d")).otherwise(F.lit("u"))
                       .alias("__action")))
        if target.current_version() is None:
            # first sync: the initial load (or first delta) is
            # insert-shaped; commit the upsert rows directly
            v = target.commit(
                src.where(F.col("__action") == "u").select(*cols),
                "overwrite", txn_id=txn)
        else:
            if initial and target._txn_version(txn) is None \
                    and target.read().limit(1).collect():
                raise ValueError(
                    f"replicate_to: target {target.path} is "
                    f"pre-populated but consumer {consumer!r} has no "
                    f"offset — the replica must start empty (it is "
                    f"owned by the replication loop; foreign rows "
                    f"would survive every sync). Point at an empty "
                    f"table or reset it first")
            v = target.merge_clauses(
                src, key,
                matched_update={c: f"src_{c}" for c in cols
                                if c != key},
                matched_delete="src___action = 'd'",
                insert=True, insert_condition="__action = 'u'",
                txn_id=txn)
        self.ack_feed(consumer, head)
        return v

    def _enforce_write_gates(self, df: DataFrame, entry: dict | None,
                             op: str) -> None:
        """Refuse `op` if any incoming row violates a standing CHECK
        constraint (predicate FALSE; NULL passes — SQL CHECK
        semantics) or carries a GENERATED column whose value differs
        from its generation expression (Delta semantics: a write may
        provide the column, but only with the exact generated value —
        NULL-safe equality; columns the frame omits are materialized
        by commit() before this gate and always pass). BOTH families
        fold into ONE bounded aggregate over the rows being written —
        never over the table, and never two evaluations of the same
        batch lineage."""
        from pyspark.sql import functions as F

        gen = (entry or {}).get("generated") or {}
        cons = (entry or {}).get("constraints") or {}
        gnames = sorted(c for c in gen if c in df.columns)
        cnames = sorted(cons)
        if not gnames and not cnames:
            return
        aggs = [
            F.sum((~F.col(n).eqNullSafe(F.expr(gen[n])))
                  .cast("long")).alias(f"_g{i}")
            for i, n in enumerate(gnames)
        ] + [
            F.sum((~F.coalesce(F.expr(cons[n]), F.lit(True)))
                  .cast("long")).alias(f"_c{i}")
            for i, n in enumerate(cnames)
        ]
        row = df.agg(*aggs).collect()[0]
        gbad = {n: (row[f"_g{i}"] or 0) for i, n in enumerate(gnames)
                if (row[f"_g{i}"] or 0)}
        if gbad:
            raise ConstraintViolationError(
                f"lake table {self.path}: {op} writes generated "
                f"column(s) with values diverging from their "
                f"generation expression {gbad} — omit the column (it "
                f"is computed at write) or write the exact generated "
                f"value")
        cbad = {n: (row[f"_c{i}"] or 0) for i, n in enumerate(cnames)
                if (row[f"_c{i}"] or 0)}
        if cbad:
            raise ConstraintViolationError(
                f"lake table {self.path}: {op} violates CHECK "
                f"constraint(s) {cbad} — fix the producer, quarantine "
                f"via commit_expect, or drop_constraint first")

    def _enforce_generated(self, df: DataFrame, entry: dict | None,
                           op: str) -> None:
        """Generated-column gate alone (see _enforce_write_gates)."""
        self._enforce_write_gates(
            df, {"generated": (entry or {}).get("generated")}, op)

    def _enforce_constraints(self, df: DataFrame, entry: dict | None,
                             op: str) -> None:
        """CHECK-constraint gate alone (see _enforce_write_gates)."""
        self._enforce_write_gates(
            df, {"constraints": (entry or {}).get("constraints")}, op)

    def set_constraint(self, name: str, predicate: str,
                       txn_id: str | None = None) -> int:
        """ADD a standing CHECK constraint (Delta semantics): validate
        the CURRENT head satisfies `predicate` (one filtered scan —
        refuse with ConstraintViolationError if any row fails), then
        publish a metadata-only commit recording it. From then on
        EVERY row-introducing write (commit / merge / update / the
        streaming sinks riding them) enforces it on the rows being
        written; constraints carry forward as a table property and
        survive compaction, restore and clone."""
        from pyspark.sql import functions as F

        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        entry = self._read_entry(head)
        offenders = (self.read(head)
                     .where(~F.coalesce(F.expr(predicate), F.lit(True)))
                     .limit(1).collect())
        if offenders:
            raise ConstraintViolationError(
                f"lake table {self.path}: existing rows violate "
                f"{name!r} ({predicate}) — e.g. {offenders[0]}; clean "
                f"the table before adding the constraint")
        cons = {**entry.get("constraints", {}), name: predicate}
        return self._publish(
            entry["files"], "set_constraint", txn_id, head + 1,
            schema=self._entry_schema(entry),
            base=entry,
            constraints=cons)

    def drop_constraint(self, name: str,
                        txn_id: str | None = None) -> int:
        """Remove a standing CHECK constraint by name (refuses unknown
        names loudly — dropping a constraint that never existed is a
        deploy-script bug, not a no-op)."""
        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        entry = self._read_entry(head)
        cons = dict(entry.get("constraints", {}))
        if name not in cons:
            raise ValueError(f"lake table {self.path}: no constraint "
                             f"named {name!r} "
                             f"(have {sorted(cons) or 'none'})")
        del cons[name]
        return self._publish(
            entry["files"], "drop_constraint", txn_id, head + 1,
            schema=self._entry_schema(entry),
            base=entry,
            constraints=cons)

    def constraints(self) -> dict[str, str]:
        """The standing CHECK constraints at head (name → predicate)."""
        head = self.current_version()
        if head is None:
            return {}
        return dict(self._read_entry(head).get("constraints", {}))

    # -- generated columns (Delta GENERATED ALWAYS AS semantics) ------------

    def set_generated_column(self, col: str, expr: str,
                             txn_id: str | None = None) -> int:
        """Declare `col` GENERATED ALWAYS AS `expr` (a deterministic
        SQL expression over the row's other columns). From then on
        every row-introducing write — commit / merge / update / the
        streaming sinks riding them — either OMITS the column (commit
        materializes it at write time) or provides the exact generated
        value (NULL-safe equality; anything else refuses with per-
        column violation counts). The declaration is a table property:
        carried by every commit, survives compaction/restore, rides
        clone.

        ADD validates the CURRENT head first (one filtered scan) — an
        existing row whose value diverges refuses, like
        set_constraint. The column must already exist in the schema;
        declare-then-backfill is an overwrite decision, not metadata."""
        from pyspark.sql import functions as F

        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        entry = self._read_entry(head)
        schema = self._entry_schema(entry)
        names = [f.name for f in schema.fields] if schema else []
        if col not in names:
            raise ValueError(
                f"lake table {self.path}: no column {col!r} to declare "
                f"generated (have {names}) — commit it first")
        offenders = (self.read(head)
                     .where(~F.col(col).eqNullSafe(F.expr(expr)))
                     .limit(1).collect())
        if offenders:
            raise ConstraintViolationError(
                f"lake table {self.path}: existing rows diverge from "
                f"generated {col!r} = {expr} — e.g. {offenders[0]}; "
                f"rewrite the table before declaring")
        gen = {**entry.get("generated", {}), col: expr}
        return self._publish(
            entry["files"], "set_generated", txn_id, head + 1,
            schema=self._entry_schema(entry),
            base=entry,
            generated=gen)

    def drop_generated(self, col: str, txn_id: str | None = None) -> int:
        """Remove a generated-column declaration (the column and its
        data stay — only the write-time contract is dropped)."""
        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        entry = self._read_entry(head)
        gen = dict(entry.get("generated", {}))
        if col not in gen:
            raise ValueError(f"lake table {self.path}: no generated "
                             f"declaration for {col!r} "
                             f"(have {sorted(gen)})")
        del gen[col]
        return self._publish(
            entry["files"], "drop_generated", txn_id, head + 1,
            schema=self._entry_schema(entry),
            base=entry,
            generated=gen)  # {} clears

    def generated_columns(self) -> dict[str, str]:
        """The generated-column declarations at head (col → expr)."""
        head = self.current_version()
        if head is None:
            return {}
        return dict(self._read_entry(head).get("generated", {}))

    # -- table properties (Delta TBLPROPERTIES semantics) -------------------

    def set_property(self, name: str, value,
                     txn_id: str | None = None) -> int:
        """Set one TABLE PROPERTY — sugar over set_properties()."""
        return self.set_properties({name: value}, txn_id=txn_id)

    def set_properties(self, updates: dict, txn_id: str | None = None,
                       retries: int = 3) -> int:
        """Set TABLE PROPERTIES (JSON-native values) as ONE
        metadata-only commit. Properties carry forward through every
        commit — data writes, compact, restore — exactly like
        constraints, and clone copies them; the reference's per-object
        sink metadata (record_count/source/extracted_date,
        /root/reference/lambda/lambda_function.py:332-337) maps to
        per-commit `meta` plus these table-level properties.

        Batching several properties into one commit keeps multi-source
        writers from inflating the version count, and a lost head race
        is retried (`retries`, default 3) by re-reading the head and
        re-merging — always safe for a pure property update, the
        competitor's data files and properties both survive. No-op
        updates (every key already at its value) publish nothing and
        return the current head."""
        if not updates:
            raise ValueError("set_properties: empty update dict")
        for name, value in updates.items():
            if not isinstance(value,
                              (str, int, float, bool, type(None))):
                raise ValueError(f"property value must be JSON-native:"
                                 f" {name}={value!r}")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        for attempt in range(retries + 1):
            head = self.current_version()
            if head is None:
                raise ValueError(
                    f"lake table {self.path}: no commits yet")
            entry = self._read_entry(head)
            props = dict(entry.get("properties", {}))
            if all(k in props and props[k] == v
                   for k, v in updates.items()):
                return head
            props.update(updates)
            try:
                return self._publish(
                    entry["files"], "set_property", txn_id, head + 1,
                    schema=self._entry_schema(entry),
                    base=entry,
                    properties=props)
            except ConcurrentWriteError:
                if attempt == retries:
                    raise
                if txn_id is not None:
                    done = self._txn_version(txn_id)
                    if done is not None:
                        return done
        raise AssertionError("unreachable")

    def drop_property(self, name: str, txn_id: str | None = None) -> int:
        """Remove a table property (metadata-only commit)."""
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        head = self.current_version()
        if head is None:
            raise ValueError(f"lake table {self.path}: no commits yet")
        entry = self._read_entry(head)
        props = dict(entry.get("properties", {}))
        if name not in props:
            raise ValueError(f"lake table {self.path}: no property "
                             f"named {name!r} "
                             f"(have {sorted(props) or 'none'})")
        del props[name]
        return self._publish(
            entry["files"], "drop_property", txn_id, head + 1,
            schema=self._entry_schema(entry),
            base=entry,
            properties=props)

    def table_properties(self) -> dict:
        """The table properties at head (name → value)."""
        head = self.current_version()
        if head is None:
            return {}
        return dict(self._read_entry(head).get("properties", {}))

    # -- column mapping (rename/drop without rewrite) -----------------------

    def _map_op_guard(self, entry: dict, col: str, op: str) -> None:
        """Refusals shared by rename_column/drop_column: a standing
        CHECK constraint or a live deferred-delete predicate written
        against `col` would silently stop matching under the new name
        (constraints are SQL strings, deferred predicates are
        logical-name dicts applied at read time). Materialize/drop
        those contracts first — an explicit error beats a predicate
        that quietly evaluates against nothing."""
        import re

        pat = re.compile(rf"(?<![A-Za-z0-9_]){re.escape(col)}"
                         rf"(?![A-Za-z0-9_])")
        hit = [n for n, pred in (entry.get("constraints") or {}).items()
               if pat.search(pred)]
        if hit:
            raise ValueError(
                f"lake table {self.path}: cannot {op} column {col!r} — "
                f"standing constraint(s) {hit} reference it; "
                f"drop_constraint first")
        for d in entry.get("deferred_deletes") or []:
            cols = (d.get("ranges") or d.get("keys")
                    or {k: None for k in d if k != "files"})
            if col in cols:
                raise ValueError(
                    f"lake table {self.path}: cannot {op} column "
                    f"{col!r} — a pending deferred delete filters on "
                    f"it; compact() to materialize first")
        gen = entry.get("generated") or {}
        if col in gen:
            raise ValueError(
                f"lake table {self.path}: cannot {op} column {col!r} — "
                f"it is declared GENERATED; drop_generated first")
        ghit = [g for g, e in gen.items() if pat.search(e)]
        if ghit:
            raise ValueError(
                f"lake table {self.path}: cannot {op} column {col!r} — "
                f"generated column(s) {ghit} derive from it; "
                f"drop_generated first")

    def rename_column(self, old: str, new: str,
                      txn_id: str | None = None,
                      retries: int = 3) -> int:
        """Rename a column METADATA-ONLY (Delta column-mapping
        semantics): no file is rewritten — the new head's schema
        carries the new logical name and the entry's column map points
        it at the stable PHYSICAL name the bytes were written under.
        Reads at the new head see the new name; time travel to any
        older version sees the name that version actually had; per-file
        stats/blooms/sums (keyed physically) keep pruning with zero
        recomputation. At 100 TB this is the difference between an
        O(1) log write and a full-table rewrite.

        Renaming BACK to the physical name drops the map entry (the
        layout returns to identity). Concurrent head races retry like
        set_properties; a rename racing a concurrent data COMMIT is
        surfaced by the writer's mapping-signature check instead."""
        from pyspark.sql import types as T

        if new == old:
            raise ValueError(f"rename_column: {old!r} -> {new!r} is a "
                             f"no-op")
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        for attempt in range(retries + 1):
            head = self.current_version()
            if head is None:
                raise ValueError(f"lake table {self.path}: no commits yet")
            entry = self._read_entry(head)
            schema = self._entry_schema(entry)
            if schema is None:
                raise ValueError(
                    f"lake table {self.path}: version {head} carries no "
                    f"schema (pre-schema-tier entry) — commit once to "
                    f"pin one before renaming")
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"lake table {self.path}: no column "
                                 f"{old!r} (have {names})")
            if new in names:
                raise ValueError(f"lake table {self.path}: column "
                                 f"{new!r} already exists")
            self._map_op_guard(entry, old, "rename")
            cmap = self._entry_cmap(entry)
            phys = cmap.pop(old, old)
            if new != phys:
                cmap[new] = phys
            new_schema = T.StructType([
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old else f for f in schema.fields])
            try:
                return self._publish(
                    entry["files"], "rename_column", txn_id, head + 1,
                    schema=new_schema,
                    base=entry,
                    column_map=cmap,  # {} clears (rename back)
                    )
            except ConcurrentWriteError:
                if attempt == retries:
                    raise
                if txn_id is not None:
                    done = self._txn_version(txn_id)
                    if done is not None:
                        return done
        raise AssertionError("unreachable")

    def drop_column(self, col: str, txn_id: str | None = None,
                    retries: int = 3) -> int:
        """Drop a column METADATA-ONLY: the files keep the bytes (older
        versions still read them — time travel is unaffected) but the
        new head's schema loses the field, and the pinned physical
        read schema means the dropped column's pages are never even
        deserialized — the same free column pruning a rewrite would
        buy, without the rewrite.

        The physical name is RETIRED (entry phys_used): a later
        evolve-append re-adding the same logical name gets a fresh
        physical name, so the old bytes in shared files can never
        resurrect under the new column (Delta/Iceberg re-add
        semantics). Blooms/sums over the dropped column are pruned
        from the entry; per-file min/max stats stay (harmless — keyed
        by the retired physical, unreachable from the new schema)."""
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        for attempt in range(retries + 1):
            head = self.current_version()
            if head is None:
                raise ValueError(f"lake table {self.path}: no commits yet")
            entry = self._read_entry(head)
            schema = self._entry_schema(entry)
            if schema is None:
                raise ValueError(
                    f"lake table {self.path}: version {head} carries no "
                    f"schema (pre-schema-tier entry) — commit once to "
                    f"pin one before dropping")
            names = [f.name for f in schema.fields]
            if col not in names:
                raise ValueError(f"lake table {self.path}: no column "
                                 f"{col!r} (have {names})")
            if len(names) == 1:
                raise ValueError(f"lake table {self.path}: cannot drop "
                                 f"the last column")
            self._map_op_guard(entry, col, "drop")
            cmap = self._entry_cmap(entry)
            phys = cmap.pop(col, col)
            used = sorted(set(entry.get("phys_used") or []) | {phys})
            from pyspark.sql import types as T

            new_schema = T.StructType(
                [f for f in schema.fields if f.name != col])
            # the dropped column's blooms and sums leave the entry
            # (its min/max stats stay, unreachable from the schema)
            pruned = {kind: {f: {c: v for c, v in per.items() if c != phys}
                             for f, per in entry[kind].items()}
                      for kind in ("blooms", "sums") if kind in entry}
            try:
                return self._publish(
                    entry["files"], "drop_column", txn_id, head + 1,
                    schema=new_schema, base=entry, new=pruned,
                    bloom_cols=[c for c in entry.get("bloom_cols") or []
                                if c != phys],
                    sum_cols=[c for c in entry.get("sum_cols") or []
                              if c != phys],
                    column_map=cmap,  # {} clears
                    phys_used=used)
            except ConcurrentWriteError:
                if attempt == retries:
                    raise
                if txn_id is not None:
                    done = self._txn_version(txn_id)
                    if done is not None:
                        return done
        raise AssertionError("unreachable")

    # widenings the parquet scan upcasts losslessly under a pinned
    # wider read schema (verified on this Spark: byte/short/int/long
    # ladder, float→double, any integral→double, decimal precision
    # growth at the SAME scale) — the Delta 4.0 type-widening matrix,
    # conservative subset
    _WIDEN_LADDER = ("byte", "short", "integer", "long")

    def _widen_ok(self, old, new) -> bool:
        from pyspark.sql import types as T

        names = self._WIDEN_LADDER
        o, n = old.typeName(), new.typeName()
        if o in names and n in names:
            return names.index(n) > names.index(o)
        if o == "float" and n == "double":
            return True
        if o in names and n == "double":
            return True
        if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
            return (new.scale == old.scale
                    and new.precision > old.precision)
        return False

    def widen_column(self, col: str, new_type, txn_id: str | None = None,
                     retries: int = 3) -> int:
        """Widen a column's type METADATA-ONLY (Delta 4.0 type
        widening): no file is rewritten — the new head pins the wider
        schema and the parquet scan upcasts each file's narrower pages
        losslessly at read time (byte→short→int→long, float→double,
        integral→double, decimal precision growth at the same scale).
        Appends after the widening carry the wide type; prior versions
        time-travel with their own narrower schema. Anything outside
        the lossless matrix (narrowing, scale change, string↔numeric)
        refuses — that is a rewrite decision, not metadata.

        Composes with column mapping: the physical name (and therefore
        every per-file stat/bloom/sum record) is untouched; stat-key
        comparisons are numeric either way."""
        from pyspark.sql import types as T

        if isinstance(new_type, str):
            new_type = T._parse_datatype_string(new_type)
        if txn_id is not None:
            done = self._txn_version(txn_id)
            if done is not None:
                return done
        for attempt in range(retries + 1):
            head = self.current_version()
            if head is None:
                raise ValueError(f"lake table {self.path}: no commits yet")
            entry = self._read_entry(head)
            schema = self._entry_schema(entry)
            if schema is None:
                raise ValueError(
                    f"lake table {self.path}: version {head} carries no "
                    f"schema (pre-schema-tier entry) — commit once to "
                    f"pin one before widening")
            names = [f.name for f in schema.fields]
            if col not in names:
                raise ValueError(f"lake table {self.path}: no column "
                                 f"{col!r} (have {names})")
            old_type = next(f.dataType for f in schema.fields
                            if f.name == col)
            if old_type == new_type:
                raise ValueError(f"widen_column: {col!r} is already "
                                 f"{new_type.simpleString()}")
            if not self._widen_ok(old_type, new_type):
                raise ValueError(
                    f"lake table {self.path}: {old_type.simpleString()} "
                    f"→ {new_type.simpleString()} is not a lossless "
                    f"parquet upcast (allowed: byte→short→int→long, "
                    f"float→double, integral→double, decimal precision "
                    f"growth at the same scale) — rewrite via a new "
                    f"overwrite commit instead")
            new_schema = T.StructType([
                T.StructField(col, new_type, f.nullable)
                if f.name == col else f for f in schema.fields])
            try:
                return self._publish(
                    entry["files"], "widen_column", txn_id, head + 1,
                    schema=new_schema,
                    base=entry)
            except ConcurrentWriteError:
                if attempt == retries:
                    raise
                if txn_id is not None:
                    done = self._txn_version(txn_id)
                    if done is not None:
                        return done
        raise AssertionError("unreachable")

    def clone(self, dest_path: str,
              version: int | str | None = None,
              backend: CommitBackend | None = None,
              pin_tag: bool = True) -> "LakeTable":
        """SHALLOW, ZERO-COPY clone (Delta CLONE semantics): publish a
        new table at `dest_path` whose v0 references this table's data
        files for `version` (int, tag name, or head) — no byte is
        copied, and the per-file stats / bloom indexes / decimal sums
        ride along, so data skipping works on the clone immediately.
        The clone's log is independent from v0 on: appends, deletes,
        compaction, restore all diverge freely; its own new files land
        under its own data/ dir.

        Ownership: the clone never deletes borrowed files — vacuum()
        only reclaims files under a table's OWN data/ dir (see the
        ownership guard there). The SOURCE's vacuum is the real
        hazard (Delta documents the same caveat and offers nothing);
        here `pin_tag=True` (default) tags the source version
        `clone-<dest basename>`, and tags are retention promises the
        source's vacuum honors — delete the tag to release the pin
        (the clone's pre-divergence versions then become unreadable
        once the source vacuums, exactly like any expired snapshot).

        Lineage rides the v0 txn id (`clone:<source path>@<version>`,
        visible in history()). Raises if `dest_path` already holds a
        committed table."""
        from pyspark.sql import types as T

        if isinstance(version, str):
            v = self.resolve_tag(version)
        elif version is not None:
            v = version
        else:
            v = self.current_version()
        if v is None:
            raise ValueError(f"lake table {self.path} has no commits "
                             f"to clone")
        entry = self._read_entry(v)
        dest = LakeTable(self.spark, dest_path,
                         backend=backend or self.backend)
        if dest.current_version() is not None:
            raise ValueError(f"clone destination {dest_path} already "
                             f"holds a committed table")
        schema = (T.StructType.fromJson(json.loads(entry["schema"]))
                  if "schema" in entry else None)
        dest._publish(
            list(entry["files"]), "clone",
            txn_id=f"clone:{self.path}@{v}", version=0,
            schema=schema,
            base=entry,
            constraints=entry.get("constraints"),
            properties=entry.get("properties"),
            # v0 has no prior to carry from — the source version's
            # mapping state rides along so clone reads resolve
            # physical names identically
            column_map=entry.get("column_map"),
            phys_used=entry.get("phys_used"),
            generated=entry.get("generated"))
        if pin_tag:
            base = os.path.basename(dest_path.rstrip("/"))
            self.tag(f"clone-{base}", v)
        return dest

    def vacuum(self, keep_last: int = 1) -> int:
        """Delete data files referenced ONLY by versions older than the
        last `keep_last` commits (their log entries remain as history,
        but read() on them will fail). TAGGED versions are always
        retained — a tag is a retention promise (Iceberg semantics),
        so `tag('audit-2024', v)` keeps that snapshot readable through
        any retention policy until the tag is deleted. Returns files
        deleted."""
        if keep_last < 1:
            raise ValueError("vacuum must keep at least the head version")
        vs = self._versions()
        keep = set(vs[-keep_last:]) | set(self.tags().values())
        live: set[str] = set()
        for v in keep:
            live.update(self._read_entry(v)["files"])
        dead: set[str] = set()
        for v in vs:
            if v not in keep:
                dead.update(self._read_entry(v)["files"])
        dead -= live
        # OWNERSHIP GUARD: a table only ever deletes files under its
        # own data/ dir. A shallow clone's early versions reference the
        # SOURCE table's files (zero-copy); without this line the
        # clone's vacuum would reach into the source's data dir and
        # corrupt a table it does not own.
        # Directory-EXACT prefix: compare against "<path>/data/" so a
        # sibling like "<path>data-x/…" or "<path>/datasets/…" can
        # never be mistaken for owned (startswith on the bare prefix
        # would match both).
        own = os.path.join(os.path.normpath(self.path), "data") + os.sep
        dead = {f for f in dead if os.path.normpath(f).startswith(own)}
        for f in dead:
            self.data_plane.remove(f)
        return len(dead)


def _run_scoped_sink(stream_df: DataFrame, checkpoint_dir: str,
                     commit_fn, app_id: str | None) -> None:
    """Drain an availableNow foreachBatch stream, scoping every batch's
    txn_id by a per-query app id. A bare batch number is NOT a safe
    idempotence token: two producers appending to the same table, or
    one producer restarted with a deleted checkpoint, both count
    batches 0,1,2... and _txn_version would treat the second writer's
    batches as already-committed replays — silently dropping data.
    Delta scopes by (txnAppId, txnVersion); we scope by the streaming
    query's persistent id (`q.id`, pinned by Spark inside the
    checkpoint: stable across restarts of the same checkpoint,
    regenerated when the checkpoint is fresh/deleted — exactly the
    replay-vs-new-writer distinction needed), or by an explicit
    `app_id` when the caller owns naming (multi-query topologies)."""
    import threading

    ready = threading.Event()
    ident: dict[str, str] = {}
    if app_id is not None:
        ident["id"] = app_id
        ready.set()

    def fb(batch: DataFrame, bid: int) -> None:
        # batch 0 can run before .start() returns on the caller thread;
        # wait for the query id capture below (sub-ms in practice)
        if not ready.wait(timeout=60):
            raise RuntimeError("streaming query id not captured")
        commit_fn(batch, bid, ident["id"])

    q = (
        stream_df.writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if app_id is None:
        ident["id"] = str(q.id)
        ready.set()
    q.awaitTermination()


def lake_append_sink(stream_df: DataFrame, table: LakeTable,
                     checkpoint_dir: str,
                     bloom_cols: list[str] | None = None,
                     sum_cols: list[str] | None = None,
                     app_id: str | None = None) -> None:
    """Streaming APPEND through the commit log: each micro-batch lands
    as one append commit carrying txn_id="{query_id}:append-batch-{bid}"
    — a crash replay of a batch is answered from the log
    (exactly-once), while a SECOND producer (or a restart with a fresh
    checkpoint) gets its own query id and its batches commit normally
    (see _run_scoped_sink). A lost version race against a concurrent
    writer is absorbed by append-retry (the batch's files are re-merged
    onto the new head, never rewritten). The ingestion contract a
    100 TB landing table needs: many producers, one log, no
    coordination beyond the commit point."""
    _run_scoped_sink(
        stream_df, checkpoint_dir,
        lambda batch, bid, aid: table.commit(
            batch, "append", txn_id=f"{aid}:append-batch-{bid}",
            bloom_cols=bloom_cols, sum_cols=sum_cols, retries=3),
        app_id,
    )


def lake_expect_sink(stream_df: DataFrame, table: LakeTable,
                     checkpoint_dir: str, rules: dict[str, str],
                     on_violation: str = "quarantine",
                     app_id: str | None = None) -> None:
    """Streaming EXPECTATIONS through the commit log — the Delta Live
    Tables ingest shape: each micro-batch passes through commit_expect,
    so valid rows APPEND to the table while violating rows accumulate
    in the sibling quarantine LakeTable, batch by batch, each side
    txn-guarded ("{query_id}:expect-batch-{bid}" resp. its
    ":quarantine" twin — a crash between the two commits self-heals on
    replay: the valid append is answered from the log and the
    quarantine append re-runs idempotently). on_violation="fail" makes
    a dirty batch POISON the stream loudly (the foreachBatch raises,
    the query errors) rather than ever committing bad rows — pick it
    for contracts where quarantining is not acceptable."""
    _run_scoped_sink(
        stream_df, checkpoint_dir,
        lambda batch, bid, aid: table.commit_expect(
            batch, rules, mode="append", on_violation=on_violation,
            txn_id=f"{aid}:expect-batch-{bid}"),
        app_id,
    )


def lake_cdc_sink(stream_df: DataFrame, source: LakeTable,
                  replica: LakeTable, checkpoint_dir: str,
                  consumer: str, key: str,
                  app_id: str | None = None) -> None:
    """Streaming CDC REPLICATION: each micro-batch appends to the
    SOURCE table (query-scoped txn — exactly-once,
    _run_scoped_sink) and then drives one replicate_to sync, so a
    drained stream leaves the replica equal to the source's final
    state — the reference's daily-trigger shape
    (streaming.run_available_now) composed with the r11 replication
    loop.

    Every crash point self-heals on the next drain:
    - between the source commit and the sync → the feed simply spans
      one more version; the next sync (or next batch's) absorbs it —
      the feed offset, not the batch id, is the replication cursor;
    - between the replica's merge commit and the feed ack → the
      redelivered delta replays against the replica's txn log
      (cdc-apply:<consumer>:<head>) and only the ack re-runs;
    - a checkpoint replay of a committed batch → the source answers
      from its txn log and the sync finds nothing new.

    Out-of-band source commits (a second writer, CoW updates,
    deletes) ride along for free: replicate_to consumes the feed, not
    this stream's batches."""
    def commit_and_sync(batch: DataFrame, bid: int, aid: str) -> None:
        source.commit(batch, "append",
                      txn_id=f"{aid}:cdc-ingest-{bid}", retries=3)
        source.replicate_to(replica, consumer, key)

    _run_scoped_sink(stream_df, checkpoint_dir, commit_and_sync,
                     app_id)


def lake_upsert_sink(stream_df: DataFrame, table: LakeTable,
                     checkpoint_dir: str, key: str,
                     app_id: str | None = None) -> None:
    """Streaming MERGE through the commit log: each micro-batch merges
    into the table as one commit carrying
    txn_id="{query_id}:stream-batch-{bid}", so a crash replay of a
    batch is a no-op (the log answers with the original version) while
    a second producer's identically-numbered batches still commit
    (per-query scoping, see _run_scoped_sink) — exactly-once without
    rewriting the whole snapshot dir per batch (contrast
    upsert.streaming_upsert_sink's swap)."""
    _run_scoped_sink(
        stream_df, checkpoint_dir,
        lambda batch, bid, aid: table.merge(
            batch, key, txn_id=f"{aid}:stream-batch-{bid}"),
        app_id,
    )
