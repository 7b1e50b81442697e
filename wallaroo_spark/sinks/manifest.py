"""Versioned manifest-log table: Delta-lite atomic multi-file snapshots.

`TransactionalParquetSink` gives exactly-once per micro-batch; this module
gives **table-level** atomicity across arbitrarily many files — the missing
piece for maintaining a 100 TB corpus as it is appended, rewritten, and
compacted (reference parity: the connector sink's 2PC commit log,
`core/sink/connector_sink/connector_sink_twopc.pony:36-72`, generalized from
per-checkpoint byte ranges to file sets).

Design (the Delta/Iceberg shape, minimum viable):

- data files are immutable parquet parts under ``_data/<uuid>/``; writing
  them publishes NOTHING;
- the table state is a log of JSON entries ``_log/<version>.json``, each
  ``{"adds": [...], "removes": [...]}``; the current file set is the log
  replay (adds minus later removes);
- commit = put-if-absent on the next version number (atomic hard link —
  the same primitive works as put-if-absent on object stores). Losing a
  race re-reads the log and retries on top of the winner: optimistic
  concurrency, never lost or partial commits;
- ``read(version=...)`` replays a prefix of the log — time travel /
  snapshot isolation for free;
- ``compact()`` rewrites the current snapshot into fewer files and commits
  the swap as ONE entry: readers see old files or new files, never a mix —
  the operation that keeps a long-appended table scannable;
- crash anywhere before the link lands => invisible orphan data dirs;
  ``vacuum()`` removes dirs no log entry references.

The log itself stays tiny (one JSON per commit); at extreme commit counts
replaying every entry on every read becomes the bottleneck, so the table
supports **log checkpoints** (the Delta `_last_checkpoint` shape): every
``checkpoint_interval`` commits (or on explicit ``checkpoint()``) the
replayed state — current file set plus seen txn markers — is written to
``_checkpoints/<version>.json`` with the same put-if-absent primitive.
Readers seed from the newest checkpoint at-or-below the requested version
and replay only the newer entries, so reads are O(interval), not O(total
commits); time travel below the oldest checkpoint still replays from the
start (log entries are never deleted). Checkpoint content is a pure
deterministic function of the log prefix, so concurrent checkpointers
racing on the same version are harmless.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import zlib
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hive-style partition directory prefix for manifest-managed partitioned
# writes (`_wsp_<col>=<value>/`): the partition key travels IN the file
# path, so every manifest entry (a list of paths) carries it with zero
# log-schema change — checkpoints, expiry, vacuum and the optimistic
# commit loop all inherit partition awareness for free, exactly how
# Hive/Delta/Iceberg encode partition values for file pruning.
_PART_PREFIX = "_wsp_"
# Bucketed layout prefix (`_wspb_<B>_<col>=<bucket>/`): the path carries
# hash(value) % B instead of the raw value, so the number of directories —
# and therefore files PER APPEND and manifest-log bytes — is capped at B
# no matter how many distinct values the column has (n_cells = 1e5 at
# production ANN geometry). Pruning happens at bucket granularity: a
# requested value maps to its bucket and only that bucket's files are
# opened; co-bucketed values ride along and the query's own key
# filter/join drops them (pruning is an I/O cut, never a correctness
# boundary). The hash is crc32 — computed identically by Spark's
# `crc32()` at write time and Python's `zlib.crc32` at prune time.
_PART_BUCKET_PREFIX = "_wspb_"
# Hive's directory name for a null partition value (Spark writes it when
# the partition column is null); matched by a requested value of None.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _bucket_of(value, n_buckets: int) -> int | None:
    """The bucket a value lands in — MUST stay in lockstep with the write
    side's ``crc32(cast(col as string)) % B`` expression."""
    if value is None:
        return None
    return zlib.crc32(str(value).encode("utf-8")) % n_buckets


def _part_spec(spec) -> tuple[str, int | None]:
    """Normalize a partition_by value: ``"col"`` (plain Hive layout) or
    ``("col", B)`` (bucketed) -> (col, buckets|None)."""
    if isinstance(spec, str):
        return spec, None
    col, buckets = spec
    if int(buckets) < 1:
        raise ValueError(f"partition buckets must be >= 1, got {buckets}")
    return col, int(buckets)


def _file_partitions(path: str) -> dict[str, str]:
    """Plain-layout partition (col -> value) carried by a file path's
    `_wsp_col=value` directory segments; empty for unpartitioned or
    bucket-partitioned files. Values are UNESCAPED: Spark percent-encodes
    special chars in partition directory names (space -> %20, ':' -> %3A,
    Hive's escapePathName), so the raw segment would never match the
    caller's unescaped predicate value."""
    out: dict[str, str] = {}
    for seg in path.split(os.sep):
        if seg.startswith(_PART_PREFIX) and "=" in seg:
            col, val = seg[len(_PART_PREFIX):].split("=", 1)
            out[unquote(col)] = unquote(val)
    return out


def _file_buckets(path: str) -> dict[str, tuple[int, str]]:
    """Bucketed-layout partition (col -> (n_buckets, bucket)) carried by a
    file path's `_wspb_<B>_col=bucket` segments."""
    out: dict[str, tuple[int, str]] = {}
    for seg in path.split(os.sep):
        if seg.startswith(_PART_BUCKET_PREFIX) and "=" in seg:
            name, val = seg[len(_PART_BUCKET_PREFIX):].split("=", 1)
            b_str, _, col = name.partition("_")
            if b_str.isdigit() and col:
                out[unquote(col)] = (int(b_str), unquote(val))
    return out


def _part_segment(path: str) -> str:
    """The path's partition directory segment (`_wsp_...` or `_wspb_...`),
    or "" for unpartitioned files."""
    return next(
        (
            s
            for s in path.split(os.sep)
            if s.startswith((_PART_PREFIX, _PART_BUCKET_PREFIX))
        ),
        "",
    )


def _seg_layout(seg: str) -> tuple[str | None, int | None]:
    """(partition_col, buckets|None) declared by a partition directory
    segment name; (None, None) for the unpartitioned "" segment. Defers
    to the one grammar in `_file_partitions`/`_file_buckets` so pruning
    and compaction can never parse the same segment differently."""
    plain = _file_partitions(seg)
    if plain:
        return next(iter(plain)), None
    bucketed = _file_buckets(seg)
    if bucketed:
        col, (b, _) = next(iter(bucketed.items()))
        return col, b
    return None, None


def _parts_matcher(parts: dict):
    """Compile ``parts`` (col -> iterable of allowed values) into a fast
    ``path -> bool`` predicate. A file WITHOUT a given key's segment is
    kept — a legacy unpartitioned file may contain any value, so pruning
    it would be silently wrong; only files that DECLARE a non-matching
    value (or a non-matching BUCKET under the bucketed layout) are
    pruned. A requested value of None matches Hive's null-partition
    directory.

    Compiled ONCE per table_files call: the allowed-value sets (and the
    per-(col, B) bucket sets, derived lazily since B is only known from a
    file's own segment) are built up front — at 1e5 snapshot files the
    naive per-file set rebuild was the dominant probe-metadata cost
    (SCALE.md, "Manifest metadata at 1e4-1e5 committed files")."""
    allowed_plain = {
        col: ({str(v) for v in vals if v is not None},
              any(v is None for v in vals))
        for col, vals in parts.items()
    }
    bucket_cache: dict[tuple[str, int], tuple[set, bool]] = {}

    def match(path: str) -> bool:
        for seg in path.split(os.sep):
            if seg.startswith(_PART_PREFIX) and "=" in seg:
                col, val = seg[len(_PART_PREFIX):].split("=", 1)
                got = allowed_plain.get(unquote(col))
                if got is not None:
                    vals_set, has_null = got
                    val = unquote(val)
                    if val == _HIVE_NULL:
                        if not has_null:
                            return False
                    elif val not in vals_set:
                        return False
            elif seg.startswith(_PART_BUCKET_PREFIX) and "=" in seg:
                name, val = seg[len(_PART_BUCKET_PREFIX):].split("=", 1)
                b_str, _, col = name.partition("_")
                if b_str.isdigit() and col:
                    col = unquote(col)
                    if col in parts:
                        key = (col, int(b_str))
                        got = bucket_cache.get(key)
                        if got is None:
                            vals = parts[col]
                            got = (
                                {
                                    str(b)
                                    for b in (
                                        _bucket_of(v, key[1]) for v in vals
                                    )
                                    if b is not None
                                },
                                any(v is None for v in vals),
                            )
                            bucket_cache[key] = got
                        buckets_set, has_null = got
                        val = unquote(val)
                        if val == _HIVE_NULL:
                            if not has_null:
                                return False
                        elif val not in buckets_set:
                            return False
        return True

    return match


def _parts_match(path: str, parts: dict) -> bool:
    """One-off form of `_parts_matcher` (tests / single-file checks)."""
    return _parts_matcher(parts)(path)


class LogStore:
    """Storage interface carrying ALL of the manifest's transactional
    metadata I/O — the two essential operations plus bookkeeping trivia.

    The whole design rests on exactly two primitives:

    - ``put_if_absent(key, data)`` — create-exclusive write. Local FS: an
      atomic hard link. Object stores: a conditional PUT with
      ``If-None-Match: *`` (supported by S3 since 2024-08, GCS
      ``x-goog-if-generation-match: 0``, Azure ``If-None-Match: *``) — the
      losing writer gets 412 Precondition Failed exactly where the FS
      backend gets EEXIST. No rename, no lock service, no DynamoDB.
    - ``list(prefix)`` — name listing under a prefix (object-store LIST).

    ``read``/``delete``/``mtime`` are trivial on every backend (GET /
    DELETE / LastModified). DATA files are not routed through this
    interface: Spark's own Hadoop filesystem layer reads and writes them
    (s3a://, gs://, abfss:// or local paths), so the store only ever holds
    small JSON log entries.
    """

    def list(self, prefix: str) -> list[str]:
        """Names (not full keys) of objects directly under ``prefix``."""
        raise NotImplementedError

    def put_if_absent(self, key: str, data: str) -> bool:
        """Write ``data`` at ``key`` iff absent. True = won; False = key
        already existed (lost the race)."""
        raise NotImplementedError

    def read(self, key: str) -> str:
        raise NotImplementedError

    def delete(self, key: str) -> None:
        raise NotImplementedError

    def mtime(self, key: str) -> float:
        """Seconds-epoch write time (object-store LastModified)."""
        raise NotImplementedError


class LocalFSLogStore(LogStore):
    """Local/NFS filesystem backend: put-if-absent via atomic hard link
    (the POSIX primitive that is atomic even on NFS, unlike O_EXCL on some
    NFSv2 servers)."""

    def __init__(self, base_dir: str):
        self.base = base_dir

    def _p(self, key: str) -> str:
        return os.path.join(self.base, key)

    def list(self, prefix: str) -> list[str]:
        d = self._p(prefix)
        return os.listdir(d) if os.path.isdir(d) else []

    def put_if_absent(self, key: str, data: str) -> bool:
        path = self._p(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def read(self, key: str) -> str:
        with open(self._p(key)) as f:
            return f.read()

    def delete(self, key: str) -> None:
        os.unlink(self._p(key))

    def mtime(self, key: str) -> float:
        return os.path.getmtime(self._p(key))


class InMemoryLogStore(LogStore):
    """In-memory fake with the object-store contract (atomic conditional
    put, prefix list, last-modified) — lets every manifest race/crash test
    run against a second backend without a filesystem."""

    def __init__(self):
        import threading
        import time as _time

        self._lock = threading.Lock()
        self._objs: dict[str, str] = {}
        self._mtimes: dict[str, float] = {}
        self._clock = _time

    def list(self, prefix: str) -> list[str]:
        p = prefix.rstrip("/") + "/"
        with self._lock:
            return [
                k[len(p):]
                for k in self._objs
                if k.startswith(p) and "/" not in k[len(p):]
            ]

    def put_if_absent(self, key: str, data: str) -> bool:
        with self._lock:
            if key in self._objs:
                return False
            self._objs[key] = data
            self._mtimes[key] = self._clock.time()
            return True

    def read(self, key: str) -> str:
        with self._lock:
            return self._objs[key]

    def delete(self, key: str) -> None:
        with self._lock:
            self._objs.pop(key, None)
            self._mtimes.pop(key, None)

    def mtime(self, key: str) -> float:
        with self._lock:
            return self._mtimes[key]


class ManifestTable:
    def __init__(
        self,
        base_dir: str,
        checkpoint_interval: int | None = None,
        log_store: LogStore | None = None,
    ):
        self.base = base_dir
        self._data = os.path.join(base_dir, "_data")
        self.checkpoint_interval = checkpoint_interval
        self.store = log_store or LocalFSLogStore(base_dir)
        # on-disk layout paths (valid for the default LocalFS store; kept
        # as attributes for tests/tools that age or inspect entries)
        self._log = os.path.join(base_dir, "_log")
        self._ckpt = os.path.join(base_dir, "_checkpoints")
        os.makedirs(self._data, exist_ok=True)
        if isinstance(self.store, LocalFSLogStore):
            # keep the on-disk layout identical to pre-interface tables
            os.makedirs(self._log, exist_ok=True)
            os.makedirs(self._ckpt, exist_ok=True)

    # -- log replay ---------------------------------------------------------
    def versions(self) -> list[int]:
        return sorted(
            int(n[: -len(".json")])
            for n in self.store.list("_log")
            if n.endswith(".json") and ".tmp-" not in n
        )

    def _entry(self, v: int) -> dict:
        return json.loads(self.store.read(f"_log/{v}.json"))

    def _checkpoint_versions(self) -> list[int]:
        return sorted(
            int(n[: -len(".json")])
            for n in self.store.list("_checkpoints")
            if n.endswith(".json") and ".tmp-" not in n
        )

    def _replay(self, version: int | None = None) -> tuple[list[str], list[dict]]:
        """(file set, txn markers) as of ``version`` — seeded from the
        newest checkpoint at-or-below it, replaying only newer entries.

        Version numbers are DENSE by construction (next = last + 1), so a
        time travel needs every integer version in (seed, version] to be
        present in the live log; any gap means `expire_log()` removed an
        entry the replay depends on, and the read must REFUSE rather than
        silently return the seed checkpoint's (older) state."""
        cps = self._checkpoint_versions()
        base_v = max(
            (c for c in cps if version is None or c <= version), default=None
        )
        files: list[str] = []
        txns: list[dict] = []
        if base_v is not None:
            cp = json.loads(self.store.read(f"_checkpoints/{base_v}.json"))
            files, txns = list(cp["files"]), list(cp.get("txns", []))
        live = self.versions()
        if version is not None:
            hi = min(
                version,
                max(max(live, default=-1), max(cps, default=-1)),
            )
            start = base_v if base_v is not None else -1
            vset = set(live)
            missing = [v for v in range(start + 1, hi + 1) if v not in vset]
            if missing:
                raise ValueError(
                    f"version {version} needs expired log entries {missing} "
                    f"(no checkpoint covers them); time travel below the "
                    f"retention horizon is gone after expire_log()"
                )
        for v in live:
            if base_v is not None and v <= base_v:
                continue
            if version is not None and v > version:
                break
            e = self._entry(v)
            removed = set(e.get("removes", []))
            if removed:  # pure appends (the common case) skip the O(files) copy
                files = [f for f in files if f not in removed]
            files.extend(e.get("adds", []))
            if e.get("txn"):
                txns.append(e["txn"])
        return files, txns

    def snapshot_files(self, version: int | None = None) -> list[str]:
        """Current (or as-of ``version``) data-file set = log replay."""
        return self._replay(version)[0]

    def committed_txns(self, query_id: str) -> set:
        """Batch ids committed by ``query_id`` (checkpoint-seeded replay)."""
        return {
            t["batch_id"]
            for t in self._replay()[1]
            if t.get("query_id") == query_id
        }

    def checkpoint(self) -> int | None:
        """Write the replayed state at the CURRENT latest version to
        ``_checkpoints/<version>.json`` (put-if-absent; deterministic
        content makes checkpoint races harmless). Returns the checkpointed
        version, or None on an empty log."""
        vs = self.versions()
        if not vs:
            return None
        v = vs[-1]
        files, txns = self._replay(version=v)
        # losing the put race is harmless: the racer wrote identical state
        self.store.put_if_absent(
            f"_checkpoints/{v}.json",
            json.dumps({"version": v, "files": files, "txns": txns}),
        )
        return v

    def expire_log(self, keep_checkpoints: int = 1) -> int:
        """Delete log entries at-or-below the retention horizon (the Delta
        log-retention shape): reads seed from checkpoints, so entries below
        one are dead weight. The horizon is the ``keep_checkpoints``-th
        newest checkpoint — keep_checkpoints=1 (default) retains only the
        newest (minimum retention); larger values keep older checkpoints
        AND the entries between them, preserving full time travel back to
        the oldest retained checkpoint. Travel below the horizon raises a
        clear error instead of silently replaying a truncated log (gap
        check in ``_replay``). Returns the number of entries removed.

        Note version numbering is unaffected: `versions()` keeps counting
        from the live tail, and `_commit`'s next-version scan never reads
        expired entries."""
        if keep_checkpoints < 1:
            raise ValueError("keep_checkpoints must be >= 1")
        cps = self._checkpoint_versions()
        if not cps:
            return 0
        horizon = cps[-min(keep_checkpoints, len(cps))]
        removed = 0
        for v in self.versions():
            if v <= horizon:
                self.store.delete(f"_log/{v}.json")
                removed += 1
        return removed

    def expire_log_by_age(self, min_age_s: float) -> int:
        """Age-based log retention: delete entries older than ``min_age_s``
        that sit at-or-below the newest checkpoint (entries above it are
        always needed to replay the head). Only the longest CONTIGUOUS
        too-old prefix is removed — never a mid-log entry — so the dense-
        version gap check in ``_replay`` keeps every retained version
        travel-able; time travel below the removed prefix raises the same
        clear retention error as ``expire_log``. Returns entries removed."""
        import time

        cps = self._checkpoint_versions()
        if not cps:
            return 0
        horizon = cps[-1]
        now = time.time()
        removed = 0
        for v in self.versions():  # ascending: stop at the first keeper
            if v > horizon:
                break
            try:
                age = now - self.store.mtime(f"_log/{v}.json")
            except (OSError, KeyError):
                break
            if age < min_age_s:
                break
            self.store.delete(f"_log/{v}.json")
            removed += 1
        return removed

    # -- commit (optimistic put-if-absent) ----------------------------------
    def _commit(
        self,
        adds: list[str],
        removes=None,
        txn: dict | None = None,
        skip_if=None,
    ) -> int | None:
        """Commit one log entry at the next free version.

        ``removes`` may be a list OR a zero-arg callable; a callable is
        re-evaluated on every retry so a lost race never commits a stale
        removes set computed against a superseded snapshot (the callable
        may also raise to abort, e.g. compact on concurrent change).
        ``skip_if`` (zero-arg callable) is checked after a lost race; if
        truthy the commit is abandoned and None returned — the idempotent
        replay path for the streaming writer.
        """
        while True:
            vs = self.versions()
            cps = self._checkpoint_versions()
            # after expire_log() the live log tail may be empty or start
            # above 0 — the next version must clear the checkpoints too,
            # or a new v0 would be silently skipped by checkpoint-seeded
            # replay (base_v > 0 skips every v <= base_v)
            last = max(vs[-1] if vs else -1, cps[-1] if cps else -1)
            v = last + 1
            rm = removes() if callable(removes) else (removes or [])
            entry = {"version": v, "adds": adds, "removes": rm}
            if txn is not None:
                entry["txn"] = txn
            if self.store.put_if_absent(f"_log/{v}.json", json.dumps(entry)):
                if (
                    self.checkpoint_interval
                    and (v + 1) % self.checkpoint_interval == 0
                ):
                    self.checkpoint()
                return v
            if skip_if is not None and skip_if():
                return None
            continue  # lost the race: re-read the log, retry on top

    # -- writers ------------------------------------------------------------
    def _write_parts(self, df: DataFrame, n_files: int | None = None) -> list[str]:
        d = os.path.join(self._data, uuid.uuid4().hex)
        w = df.coalesce(n_files) if n_files else df
        w.write.parquet(d)
        return sorted(
            os.path.join(r, n)
            for r, _, names in os.walk(d)
            for n in names
            if n.endswith(".parquet")
        )

    def append(self, df: DataFrame) -> int:
        return self._commit(adds=self._write_parts(df), removes=[])

    def overwrite(self, df: DataFrame) -> int:
        # removes as a CALLABLE: if we lose the version race, the retry
        # removes the racer's snapshot too — last-writer-wins, never a
        # silent merge of both datasets
        adds = self._write_parts(df)
        return self._commit(adds=adds, removes=self.snapshot_files)

    def compact(self, n_files: int = 1) -> int:
        """Rewrite the current snapshot into ``n_files`` files; one atomic
        swap entry — readers see the old or the new file set, never both.
        Aborts (ValueError) if another commit lands mid-compaction: the
        rewritten data would no longer represent the live snapshot."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        old = self.snapshot_files()
        adds = self._write_parts(spark.read.parquet(*old), n_files=n_files)

        def removes_or_abort():
            cur = self.snapshot_files()
            if cur != old:
                raise ValueError(
                    "concurrent commit during compact(); rerun compaction"
                )
            return old

        return self._commit(adds=adds, removes=removes_or_abort)

    # -- readers ------------------------------------------------------------
    def read(self, spark, version: int | None = None) -> DataFrame:
        files = self.snapshot_files(version)
        if not files:
            raise ValueError("empty table snapshot")
        return spark.read.parquet(*files)

    def _vacuum_candidates(self) -> list[str]:
        """Data dirs that may be vacuumed if unreferenced: the staging-dir
        granularity one writer produces (`_data/<uuid>` here; the
        multi-table layout overrides to `_data/<table>/<uuid>`)."""
        return [os.path.join(self._data, n) for n in os.listdir(self._data)]

    def vacuum(self, min_age_s: float = 3600.0) -> int:
        """Remove data dirs no log entry references (crashed writers).

        Only dirs older than ``min_age_s`` are eligible (mtime-based
        retention, the Delta-style guard): an IN-FLIGHT writer that has
        staged files but not yet linked its log entry must never be
        vacuumed out from under its about-to-succeed commit. Pass 0 only
        when no writer can be active (tests, offline maintenance)."""
        import time

        def staging_dir(path: str) -> str:
            # normalize a data-file path to its STAGING dir: partitioned
            # writes nest `_wsp_col=v/` segments below it, so strip any
            # trailing partition segments after taking the dirname —
            # keeps the candidate check an O(1) set membership instead of
            # a prefix scan over every referenced dir
            d = os.path.dirname(path)
            while os.path.basename(d).startswith(
                (_PART_PREFIX, _PART_BUCKET_PREFIX)
            ):
                d = os.path.dirname(d)
            return d

        referenced: set[str] = set()
        for v in self.versions():
            e = self._entry(v)
            for f in e.get("adds", []):
                referenced.add(staging_dir(f))
        # checkpoint file sets count as references too: after expire_log()
        # the adds below the oldest checkpoint exist ONLY in checkpoints,
        # and vacuuming those dirs would tear live data out of the table
        for cv in self._checkpoint_versions():
            for fp in json.loads(self.store.read(f"_checkpoints/{cv}.json"))["files"]:
                referenced.add(staging_dir(fp))
        now = time.time()
        removed = 0
        for d in self._vacuum_candidates():
            if d in referenced:
                continue
            try:
                if now - os.path.getmtime(d) < min_age_s:
                    continue
            except OSError:
                continue
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
        return removed


class ManifestStreamWriter:
    """foreachBatch writer making ManifestTable an exactly-once streaming
    table sink (the Delta txn-version pattern): every committed log entry
    records the (query_id, batch_id) that produced it; a replayed batch
    finds its id already in the log and appends NOTHING — idempotent under
    crash/restart replay from the checkpoint WAL, atomic per batch via the
    manifest commit."""

    def __init__(self, table: ManifestTable, query_id: str = "q"):
        self.table = table
        self.query_id = query_id

    def _committed_batches(self) -> set:
        # checkpoint-seeded: txn markers survive into log checkpoints, so
        # idempotence holds even when old log entries sit below a checkpoint
        return self.table.committed_txns(self.query_id)

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed_batches():
            return  # replayed batch: already visible, append nothing
        adds = self.table._write_parts(df)
        # same atomic put-if-absent commit, with the txn marker embedded;
        # skip_if handles the lost-race-to-our-own-replay case
        self.table._commit(
            adds=adds,
            removes=[],
            txn={"query_id": self.query_id, "batch_id": batch_id},
            skip_if=lambda: batch_id in self._committed_batches(),
        )


class MultiManifestTable(ManifestTable):
    """Cross-table ATOMIC commits: N logical tables sharing ONE manifest log.

    The missing piece when a corpus table and its derived sequence-manifest
    table must move together (round-6 packing chain): committing them as two
    independent ManifestTables leaves a window where readers see new packed
    sequences referencing corpus rows that are not visible yet (or vice
    versa). Here each logical table's data files live under
    ``_data/<table>/...`` and a SINGLE log entry carries the adds/removes
    for every table in the transaction — one put-if-absent link publishes
    all of them or none. Snapshot isolation and time travel are therefore
    CONSISTENT ACROSS TABLES by construction: ``read(spark, t, version=v)``
    for any two tables at the same ``v`` always observes the same
    transaction boundary (the Delta/Iceberg single-log multi-table shape;
    checkpoints, expiry, vacuum, and the optimistic commit loop are all
    inherited unchanged because file paths namespace themselves).
    """

    def _write_parts_for(
        self,
        table: str,
        df: DataFrame,
        n_files: int | None = None,
        partition_col: str | None = None,
        partition_buckets: int | None = None,
    ) -> list[str]:
        """Stage one table's parts. ``partition_col`` buckets the files by
        that column's value (Hive layout under `_wsp_<col>=<value>/`): the
        column is DUPLICATED into the path rather than moved there —
        Spark's partitionBy strips its column from the data files, but
        manifest readers open file lists directly (no Hive discovery), so
        the data files must stay self-contained. Readers that pass a
        ``parts`` predicate to `table_files`/`read` then plan a
        file-pruned scan touching only matching buckets.

        File-count bound (the 100×-scale discipline): partitioned writes
        REPARTITION by the path key first, so an append stages at most ONE
        file per touched value — never the tasks × values explosion a bare
        ``partitionBy`` produces when every upstream task holds rows of
        every value. ``partition_buckets`` = B adds the bounded layer
        (`_wspb_<B>_<col>=<bucket>/`, bucket = crc32(value) % B): file
        count per append is capped at B no matter how many distinct values
        exist (n_cells = 1e5 at production ANN geometry would otherwise
        stage 1e5 files per refresh and bloat every log entry), and
        `table_files(parts=)` prunes at bucket granularity — the query's
        own key join drops co-bucketed extras."""
        d = os.path.join(self._data, table, uuid.uuid4().hex)
        if partition_col:
            dtype = dict(df.dtypes).get(partition_col, "")
            if dtype not in ("tinyint", "smallint", "int", "bigint", "string"):
                # bool/float/timestamp render DIFFERENTLY in Spark's string
                # cast vs Python's str() ('true' vs 'True', '1.0E20' vs
                # '1e+20'), so the prune-side value/bucket computed from the
                # caller's Python value would silently MISS the files the
                # write side produced — refuse rather than lose rows
                raise ValueError(
                    f"partition column {partition_col!r} has type {dtype!r}; "
                    "only integer and string columns partition portably "
                    "(their Spark string rendering matches Python's str())"
                )
            if partition_buckets:
                pk = f"{_PART_BUCKET_PREFIX}{partition_buckets}_{partition_col}"
                pk_val = F.crc32(
                    F.col(partition_col).cast("string")
                ) % partition_buckets
            else:
                pk = _PART_PREFIX + partition_col
                pk_val = F.col(partition_col).cast("string")
            # hash-repartition by the path key: all rows of one directory
            # land in one task => exactly one file per touched directory.
            # This is the shuffle that keeps appends bounded. ``n_files``
            # here means files PER DIRECTORY: values > 1 salt the
            # repartition so a directory's rows spread over n_files tasks
            # — the write-parallelism lever for corpus-sized appends (an
            # initial 1e10-vector build through B=64 buckets must not
            # funnel through 64 writer tasks).
            w = df.withColumn(pk, pk_val)
            if n_files and n_files > 1:
                salt = F.pmod(
                    F.hash(*[F.col(c) for c in df.columns]), F.lit(n_files)
                )
                # explicit numPartitions: AQE would otherwise coalesce a
                # small shuffle to one task and silently drop the salt's
                # parallelism (at real append sizes partitions exceed the
                # coalesce target anyway — this pins the semantics)
                n_parts = int(
                    df.sparkSession.conf.get("spark.sql.shuffle.partitions")
                )
                w = w.repartition(n_parts, F.col(pk), salt)
            else:
                w = w.repartition(F.col(pk))
            w.write.partitionBy(pk).parquet(d)
        else:
            w = df.coalesce(n_files) if n_files else df
            w.write.parquet(d)
        return sorted(
            os.path.join(r, n)
            for r, _, names in os.walk(d)
            for n in names
            if n.endswith(".parquet")
        )

    def _prefix(self, table: str) -> str:
        return os.path.join(self._data, table) + os.sep

    def table_files(
        self,
        table: str,
        version: int | None = None,
        parts: dict | None = None,
    ) -> list[str]:
        """The table's snapshot file set; ``parts`` ({col: values}) prunes
        to files whose path-carried partition value matches — the manifest
        counterpart of Hive partition pruning. Files written without the
        key (legacy/unpartitioned) are always kept: they may contain any
        value, so only files declaring a NON-matching value are pruned."""
        p = self._prefix(table)
        files = [f for f in self.snapshot_files(version) if f.startswith(p)]
        if parts:
            match = _parts_matcher(parts)
            files = [f for f in files if match(f)]
        return files

    def part_file_counts(self, table: str) -> dict[str, int]:
        """Live file count per partition directory name (plain `_wsp_` or
        bucketed `_wspb_` segment; unpartitioned files count under "").
        Driver-side string work over the snapshot paths — the input to a
        files-per-partition compaction budget: appends add one file per
        touched directory per commit, so a hot cell's count grows by one
        per refresh until a `compact_table` folds them."""
        counts: dict[str, int] = {}
        for f in self.table_files(table):
            seg = _part_segment(f)
            counts[seg] = counts.get(seg, 0) + 1
        return counts

    def append_multi(
        self,
        dfs: dict[str, DataFrame],
        partition_by: dict | None = None,
        files_per_part: int | None = None,
    ) -> int:
        """Stage every table's parts (publishes nothing), then ONE atomic
        commit covering all of them. A crash mid-staging leaves only orphan
        dirs for vacuum(); no reader ever sees a partial transaction.
        ``partition_by`` ({table: col | (col, B)}) cell-buckets the named
        tables' files so readers can plan file-pruned scans
        (`table_files(parts=)`); the ``(col, B)`` form caps files per
        append at B buckets (see `_write_parts_for`). ``files_per_part``
        > 1 salts each partitioned directory over that many writer tasks
        — the parallelism lever for corpus-sized appends (files per
        append then cap at directories x files_per_part)."""
        pb = partition_by or {}
        adds: list[str] = []
        for table, df in dfs.items():
            col, buckets = _part_spec(pb[table]) if table in pb else (None, None)
            adds.extend(
                self._write_parts_for(
                    table, df, partition_col=col, partition_buckets=buckets,
                    n_files=files_per_part if col else None,
                )
            )
        return self._commit(adds=adds, removes=[])

    def overwrite_multi(
        self,
        dfs: dict[str, DataFrame],
        partition_by: dict | None = None,
        files_per_part: int | None = None,
    ) -> int:
        """Atomically replace every named table's snapshot (tables not named
        are untouched). removes is a callable so a lost race re-reads the
        winner's snapshot — last-writer-wins per table, never a merge.
        ``partition_by``/``files_per_part`` as in `append_multi`."""
        pb = partition_by or {}
        adds: list[str] = []
        for table, df in dfs.items():
            col, buckets = _part_spec(pb[table]) if table in pb else (None, None)
            adds.extend(
                self._write_parts_for(
                    table, df, partition_col=col, partition_buckets=buckets,
                    n_files=files_per_part if col else None,
                )
            )
        names = list(dfs)

        def removes():
            return [f for t in names for f in self.table_files(t)]

        return self._commit(adds=adds, removes=removes)

    def read(  # type: ignore[override]
        self,
        spark,
        table: str,
        version: int | None = None,
        parts: dict | None = None,
    ) -> DataFrame:
        """Read the table snapshot; ``parts`` plans a FILE-PRUNED scan over
        only the matching partition buckets (see `table_files`). An empty
        pruned set on a non-empty table is a legitimate result (no bucket
        matches) and raises the same empty-snapshot error — callers that
        can see an empty predicate coming should skip the read."""
        files = self.table_files(table, version, parts=parts)
        if not files:
            raise ValueError(
                f"empty snapshot for table {table!r}"
                + (f" under parts predicate {parts!r}" if parts else "")
            )
        return spark.read.parquet(*files)

    def compact_table(
        self,
        table: str,
        n_files: int = 1,
        partition_col: str | None = None,
        partition_buckets: int | None = None,
    ) -> int:
        """Rewrite ONE logical table's snapshot into ``n_files`` files and
        swap it in a single commit; every other table's file set is
        untouched (their files are simply absent from this entry's
        adds/removes). Aborts on a concurrent change to the SAME table —
        commits touching other tables are fine and the retry proceeds on
        top of them (per-table optimistic concurrency). ``partition_col``
        (+ optional ``partition_buckets``) keeps (or establishes) the
        cell-bucketed layout through the rewrite — ``n_files`` then caps
        files PER bucket. When not given, the layout is DERIVED from the
        current files: if every file that declares a partition key agrees
        on ONE key (same col, and same bucket count under the bucketed
        layout), compaction preserves it AND heals any unpartitioned
        stragglers into that layout (a legacy append must not make a bare
        ``compact_table("pq_codes")`` silently flatten the bucketing and
        degrade every future pruned probe to a full scan); files carrying
        CONFLICTING keys are ambiguous and raise — pass the layout
        explicitly."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        old = self.table_files(table)
        if not old:
            raise ValueError(f"empty snapshot for table {table!r}")
        if partition_col is None:
            declared = set()
            for f in old:
                declared.update((c, None) for c in _file_partitions(f))
                declared.update(
                    (c, b) for c, (b, _) in _file_buckets(f).items()
                )
            if len(declared) == 1:
                partition_col, partition_buckets = declared.pop()
            elif len(declared) > 1:
                raise ValueError(
                    f"compact_table({table!r}): current files declare "
                    "conflicting partition layouts "
                    f"{sorted(declared, key=lambda cb: (cb[0], cb[1] or 0))}; "
                    "pass partition_col/partition_buckets explicitly to "
                    "pick the rewrite layout"
                )
        adds = self._write_parts_for(
            table,
            spark.read.parquet(*old),
            n_files=n_files,
            partition_col=partition_col,
            partition_buckets=partition_buckets,
        )

        def removes_or_abort():
            cur = self.table_files(table)
            if cur != old:
                raise ValueError(
                    f"concurrent commit to table {table!r} during "
                    "compact_table(); rerun compaction"
                )
            return old

        return self._commit(adds=adds, removes=removes_or_abort)

    def compact_partitions(
        self,
        table: str,
        budget: int | None = None,
        segments: list[str] | None = None,
        n_files: int = 1,
    ) -> int | None:
        """Rewrite ONLY the over-budget partition directories of one table
        — the incremental form of `compact_table`. Maintenance cost is
        then O(hot directories), not O(table): an auto-compaction fired
        from a streaming micro-batch (`MultiManifestStreamWriter`) or an
        index refresh (`refresh_pq_index`) must not stall the pipeline
        for a full-table rewrite when one hot cell tripped the budget —
        at production codes scale (1e10 vectors) a full rewrite per
        budget trip would dwarf the appends it amortizes. This is Delta/
        Iceberg's partition-scoped OPTIMIZE discipline.

        Targets: every directory whose live file count exceeds ``budget``,
        or the explicit ``segments`` list (directory names as returned by
        `part_file_counts`; pass exactly one of the two). Directories
        already at <= ``n_files`` files are skipped. Each directory is
        rewritten under its OWN declared layout (mixed plain/bucketed
        tables compact each side correctly mid-migration); the
        unpartitioned "" group, when targeted, heals into the table's
        layout if every declared segment agrees on one, else it rewrites
        unpartitioned (always correct — pruned reads keep undeclared
        files).

        Concurrency is per-FILE optimistic: a concurrent append — even to
        a directory being compacted — survives untouched (its file is not
        in this rewrite's removes); only a concurrent REMOVAL of a file
        being compacted aborts (the rewrite would resurrect removed
        rows). One atomic commit: readers see every targeted directory
        fold at once or not at all. Returns the committed version, or
        None when nothing is over budget."""
        if (budget is None) == (segments is None):
            raise ValueError(
                "compact_partitions: pass exactly one of budget= or segments="
            )
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        by_seg: dict[str, list[str]] = {}
        for f in self.table_files(table):
            by_seg.setdefault(_part_segment(f), []).append(f)
        if segments is None:
            segments = [s for s, fs in by_seg.items() if len(fs) > budget]
        else:
            unknown = sorted(set(segments) - set(by_seg))
            if unknown:
                # an explicit-target API must distinguish a typo'd/stale
                # name from "already small enough" — a silent None here
                # would let a hot directory grow unboundedly
                raise ValueError(
                    f"compact_partitions({table!r}): unknown partition "
                    f"segment(s) {unknown}; live segments come from "
                    "part_file_counts()"
                )
        targets = {
            s: by_seg[s]
            for s in segments
            if len(by_seg.get(s, ())) > max(n_files, 1)
        }
        if not targets:
            return None
        # group target dirs by their own declared layout; one rewrite per
        # layout, all adds/removes in ONE commit
        groups: dict[tuple, list[str]] = {}
        for seg, fs in targets.items():
            groups.setdefault(_seg_layout(seg), []).extend(fs)
        if (None, None) in groups:
            declared = {_seg_layout(s) for s in by_seg if s}
            if len(declared) == 1:
                # heal unpartitioned stragglers into the table's layout
                groups.setdefault(declared.pop(), []).extend(
                    groups.pop((None, None))
                )
        old = sorted(f for fs in targets.values() for f in fs)
        old_set = set(old)
        adds: list[str] = []
        for (col, buckets), fs in groups.items():
            adds.extend(
                self._write_parts_for(
                    table,
                    spark.read.parquet(*fs),
                    n_files=n_files,
                    partition_col=col,
                    partition_buckets=buckets,
                )
            )

        def removes_or_abort():
            gone = old_set - set(self.table_files(table))
            if gone:
                raise ValueError(
                    f"concurrent commit removed {len(gone)} file(s) of "
                    f"table {table!r} mid-compaction; rerun "
                    "compact_partitions"
                )
            return old

        return self._commit(adds=adds, removes=removes_or_abort)

    def _vacuum_candidates(self) -> list[str]:
        # staging dirs sit one level deeper: _data/<table>/<uuid>
        out: list[str] = []
        for table in os.listdir(self._data):
            td = os.path.join(self._data, table)
            out.extend(os.path.join(td, n) for n in os.listdir(td))
        return out


class MultiManifestStreamWriter:
    """foreachBatch writer committing MULTIPLE derived tables of one batch in
    ONE manifest transaction — exactly-once ACROSS tables under restart
    replay. ``split_fn(batch_df) -> dict[table, DataFrame]`` derives the
    per-table outputs (e.g. packed corpus rows + their sequence manifests);
    a replayed batch finds its (query_id, batch_id) txn marker and appends
    nothing to ANY table. ``partition_by`` ({table: col | (col, B)})
    cell-buckets the named tables' files per micro-batch — a STREAMING
    refresh of a partitioned index (pq_codes, IVF assignments) then keeps
    the file-pruned probe path intact; without it, streamed appends land
    unpartitioned, which pruned reads must KEEP (correct but unprunable),
    slowly eroding the probe-I/O win.

    ``files_per_part_budget`` bounds the long-run file count: every
    partitioned append adds one file per touched directory per batch, so
    a K-batch stream accumulates up to K files per hot cell. When any
    directory's live count exceeds the budget after a commit, the writer
    runs `compact_partitions` (each hot directory folds under its own
    declared layout) on that table — O(hot directories) rewrite work per
    trip, never a full-table rewrite inside a micro-batch, exactly the
    Delta/Iceberg partition-scoped auto-OPTIMIZE discipline. Compaction
    is a separate commit AFTER the batch's atomic append (a crash between
    them just leaves the compaction for the next batch to redo —
    idempotent maintenance, exactly-once data)."""

    def __init__(
        self,
        table: MultiManifestTable,
        split_fn,
        query_id: str = "q",
        partition_by: dict | None = None,
        files_per_part_budget: int | None = None,
    ):
        self.table = table
        self.split_fn = split_fn
        self.query_id = query_id
        self.partition_by = partition_by or {}
        self.files_per_part_budget = files_per_part_budget

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        if batch_id in self.table.committed_txns(self.query_id):
            return
        parts = self.split_fn(df)
        adds: list[str] = []
        for t, part in parts.items():
            col, buckets = (
                _part_spec(self.partition_by[t])
                if t in self.partition_by
                else (None, None)
            )
            adds.extend(
                self.table._write_parts_for(
                    t, part, partition_col=col, partition_buckets=buckets
                )
            )
        self.table._commit(
            adds=adds,
            removes=[],
            txn={"query_id": self.query_id, "batch_id": batch_id},
            skip_if=lambda: batch_id in self.table.committed_txns(self.query_id),
        )
        if self.files_per_part_budget:
            for t in parts:
                # PARTIAL compaction: fold only the directories this
                # stream's appends pushed over budget — O(hot dirs) work
                # per trip, so maintenance can never stall a micro-batch
                # for a full-table rewrite; each directory keeps its own
                # declared layout (mixed mid-migration tables included)
                self.table.compact_partitions(
                    t, budget=self.files_per_part_budget
                )
