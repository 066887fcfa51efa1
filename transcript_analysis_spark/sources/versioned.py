"""Versioned parquet tables — snapshot isolation for concurrent
readers without a lakehouse dependency (SURVEY §2.1 S4; reference
semantics `island_worker.py:114-127` `INSERT ... ON CONFLICT`, where
Postgres MVCC gives readers a stable snapshot for free).

`sinks.write_and_swap` is correct for a single writer but RENAMES the
live directory, so a reader that resolved its file listing before the
swap can hit FileNotFound mid-scan. This module removes that window
the way Delta/Iceberg do — immutable version directories plus a
commit marker — with plain parquet:

    table/
      v_00000001/ part-*.parquet  _COMMITTED
      v_00000002/ part-*.parquet  _COMMITTED   <- latest
      v_00000003/ part-*.parquet               <- in-flight (invisible)

- A version is visible IFF its `_COMMITTED` marker exists; the marker
  is created atomically AFTER the data lands, so readers never see a
  half-written version (same contract as Spark's `_SUCCESS`).
- Data files are never renamed or deleted by a write — a reader
  holding version N keeps scanning N while the writer commits N+1.
  This is also object-store-honest: commit is one small PUT, no
  directory rename.
- Old versions are reclaimed explicitly via `vacuum_versions`
  (the OPTIMIZE/VACUUM split of the lakehouse engines), guarded by a
  retention window so in-flight readers are never yanked.
- Writers serialize on an atomically-created `_WRITE_LOCK` file —
  enforced single-writer, not a docstring promise. A crashed writer's
  lock is reclaimed automatically once its lease expires (atomic
  rename-to-tombstone takeover; release is mtime-token-guarded so an
  evicted writer can't clobber the new owner's lock).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_VERSION_RE = re.compile(r"^v_(\d{8})$")


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def _list_versions(jvm, fs, root: str) -> dict[int, bool]:
    """{version: committed} for every v_* child of `root`."""
    jroot = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(jroot):
        return {}
    out: dict[int, bool] = {}
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        m = _VERSION_RE.match(name)
        if m and st.isDirectory():
            marker = jvm.org.apache.hadoop.fs.Path(
                f"{root.rstrip('/')}/{name}/_COMMITTED")
            out[int(m.group(1))] = bool(fs.exists(marker))
    return out


def _version_dir(root: str, v: int) -> str:
    return f"{root.rstrip('/')}/v_{v:08d}"


def latest_version(spark: SparkSession, root: str) -> int | None:
    """Highest COMMITTED version, or None for an empty table."""
    jvm, fs, _ = _fs(spark, root)
    committed = [v for v, ok in _list_versions(jvm, fs, root).items() if ok]
    return max(committed) if committed else None


def read_snapshot(spark: SparkSession, root: str,
                  version: int | None = None,
                  schema: str | None = None) -> DataFrame:
    """Read a committed snapshot (latest by default). The returned
    DataFrame stays valid across later commits — its files are
    immutable until an explicit vacuum. A table with a fixed DDL
    `schema` passes it, which skips Spark's footer-inference job."""
    v = latest_version(spark, root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"versioned table has no commits: {root}")
    jvm, fs, _ = _fs(spark, root)
    versions = _list_versions(jvm, fs, root)
    if not versions.get(v, False):
        raise FileNotFoundError(
            f"version {v} of {root} is missing or uncommitted")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(_version_dir(root, v))


class ConcurrentWriterError(RuntimeError):
    """A second writer hit the table's write lock."""


class StaleBaseError(ConcurrentWriterError):
    """The table advanced past the snapshot this commit merged
    against — committing would silently drop the interleaved writer's
    changes (the classic lost update). Re-read, re-merge, retry."""


_UNCHECKED = object()   # sentinel: commit without a base-version check

# Writer-lock lease: a lock older than this is presumed abandoned by a
# crashed writer and can be taken over (Postgres gets the equivalent
# for free from connection-scoped locks — a crashed backend's
# `FOR UPDATE SKIP LOCKED` rows unlock on disconnect,
# island_worker.py:72-99; a lock FILE needs an explicit lease).
_DEFAULT_LEASE_MS = 15 * 60 * 1000


def _now_ms(jvm) -> int:
    # Same clock source that stamps FileSystem mtimes on the local FS.
    return int(jvm.java.lang.System.currentTimeMillis())


def _with_write_lock(spark: SparkSession, root: str,
                     lease_ms: int = _DEFAULT_LEASE_MS):
    """Acquire the table's writer lock; returns (jvm, fs, lock, token).

    `token` is the lock file's mtime at acquisition — release only
    deletes the lock if the mtime is unchanged, so a lease takeover
    that replaced the lock is never clobbered by the evicted writer's
    `finally` clause.

    Crashed-writer recovery: if the lock exists but its mtime is older
    than `lease_ms`, it is reclaimed via an atomic rename to a unique
    tombstone (only one contender's rename succeeds) followed by a
    fresh `createNewFile`. A lock younger than the lease still raises
    :class:`ConcurrentWriterError` — live writers are never evicted
    within their lease window.
    """
    jvm, fs, jroot = _fs(spark, root)
    fs.mkdirs(jroot)
    lock = jvm.org.apache.hadoop.fs.Path(f"{root.rstrip('/')}/_WRITE_LOCK")
    acquired = fs.createNewFile(lock)
    if not acquired:
        try:
            st = fs.getFileStatus(lock)
            age = _now_ms(jvm) - int(st.getModificationTime())
        except Exception:
            # Lock vanished between create and stat (holder released):
            # one fresh attempt, then give up to the caller's retry loop.
            age = None
        if age is not None and age > lease_ms:
            tomb = jvm.org.apache.hadoop.fs.Path(
                f"{root.rstrip('/')}/_WRITE_LOCK.expired."
                f"{int(st.getModificationTime())}")
            if fs.rename(lock, tomb):
                fs.delete(tomb, False)
            # Whether or not this contender won the rename, the stale
            # lock is gone — race for the fresh one.
            acquired = fs.createNewFile(lock)
        elif age is None:
            acquired = fs.createNewFile(lock)
        if not acquired:
            raise ConcurrentWriterError(
                f"versioned table writer lock held: {lock}. Another "
                f"writer is committing; a crashed writer's lock is "
                f"reclaimed automatically after "
                f"{lease_ms / 1000:.0f}s.")
    token = int(fs.getFileStatus(lock).getModificationTime())
    return jvm, fs, lock, token


def _release_lock(fs, lock, token: int) -> None:
    """Delete the lock only if this writer still owns it (mtime
    unchanged since acquisition) — after a lease takeover the lock
    belongs to the new writer and must survive the old one's
    `finally`."""
    try:
        if int(fs.getFileStatus(lock).getModificationTime()) == token:
            fs.delete(lock, False)
    except Exception:
        pass   # already gone


def commit_version(df: DataFrame, root: str,
                   base_version: int | None | object = _UNCHECKED) -> int:
    """Write `df` as the table's next version and make it visible.
    Returns the committed version number. Crash before the marker
    leaves an invisible orphan dir (reclaimed by vacuum), never a
    half-visible table.

    `base_version` turns the commit into an optimistic-concurrency
    transaction (the Delta/Iceberg commit-conflict check; the ACID
    property the reference inherits from Postgres MVCC +
    `INSERT ... ON CONFLICT`, island_worker.py:114-127): pass the
    version the new contents were DERIVED from (None for "table was
    empty") and the commit is rejected with :class:`StaleBaseError`
    if another writer has committed since — the check runs under the
    write lock, so check+publish is atomic. Without it, two
    read-merge-write cycles can interleave and the second silently
    erases the first's rows even though each individual commit is
    serialized."""
    spark = df.sparkSession
    jvm, fs, lock, token = _with_write_lock(spark, root)
    try:
        versions = _list_versions(jvm, fs, root)
        if base_version is not _UNCHECKED:
            committed = [x for x, ok in versions.items() if ok]
            latest = max(committed) if committed else None
            if latest != base_version:
                raise StaleBaseError(
                    f"commit against stale base: table {root} is at "
                    f"version {latest}, but this merge was derived from "
                    f"{base_version}. Re-read the latest snapshot, "
                    f"re-merge, and retry.")
        v = max(versions, default=0) + 1
        vdir = _version_dir(root, v)
        df.write.mode("error").parquet(vdir)
        marker = jvm.org.apache.hadoop.fs.Path(f"{vdir}/_COMMITTED")
        if not fs.createNewFile(marker):
            raise IOError(f"could not commit version marker {marker}")
        return v
    finally:
        _release_lock(fs, lock, token)


def upsert_by_key_versioned(df: DataFrame, root: str, keys: list[str],
                            do_update: bool = True,
                            max_retries: int = 5) -> int:
    """S4 idempotent upsert with snapshot isolation: merge against the
    latest committed version, commit the result as a NEW version.
    Readers holding any committed snapshot are undisturbed (their
    files are immutable); `ON CONFLICT DO UPDATE` when `do_update`,
    `DO NOTHING` otherwise. Same merge plan as `sinks.upsert_by_key`
    — two distributed writes, zero driver materialization.

    Concurrency: the commit carries the base version it merged
    against, so an interleaved writer cannot be silently overwritten
    — the loser's commit is rejected (:class:`StaleBaseError`, or
    :class:`ConcurrentWriterError` if it collides with the lock
    window itself) and automatically retried against the fresh
    snapshot, up to `max_retries` times with jittered backoff. Net
    effect: serializable read-merge-write, no lost updates — what the
    reference gets from Postgres row locks."""
    import random
    import time

    spark = df.sparkSession
    incoming = df.dropDuplicates(keys)
    last_err: Exception | None = None
    for attempt in range(max_retries + 1):
        v = latest_version(spark, root)
        if v is None:
            merged = incoming
        else:
            existing = read_snapshot(spark, root, v)
            if do_update:
                merged = (existing.join(incoming, keys, "left_anti")
                          .unionByName(incoming))
            else:
                merged = existing.unionByName(
                    incoming.join(existing, keys, "left_anti"))
        try:
            return commit_version(merged, root, base_version=v)
        except ConcurrentWriterError as e:   # includes StaleBaseError
            last_err = e
            if attempt < max_retries:
                time.sleep(0.05 * (2 ** attempt) * (0.5 + random.random()))
    raise last_err  # type: ignore[misc]


# Vacuum grace window: a version (or orphan dir) younger than this is
# never reclaimed, so a reader that resolved `read_snapshot` within the
# window keeps its immutability promise across a concurrent vacuum —
# the vacuum horizon of Postgres MVCC / Delta's retention period.
_DEFAULT_RETENTION_MS = 15 * 60 * 1000


def vacuum_versions(spark: SparkSession, root: str, keep: int = 2,
                    retention_ms: int = _DEFAULT_RETENTION_MS) -> list[int]:
    """Delete committed versions older than the newest `keep`, plus
    any uncommitted orphan dirs BELOW the latest committed version
    (an orphan above it may be a writer mid-commit — left alone).
    Returns the versions removed.

    Retention guard: the newest `keep` committed versions are always
    safe, and NOTHING whose commit marker (or, for orphans, version
    dir) is younger than `retention_ms` is touched — so a reader
    holding a recently-committed snapshot completes its scan even if
    a vacuum runs concurrently (`read_snapshot`'s immutability
    promise; Delta's VACUUM retention window / the Postgres vacuum
    horizon). Readers that hold a snapshot longer than the retention
    window must re-resolve — same contract as the lakehouse engines.
    Pass ``retention_ms=0`` for the old reclaim-everything behavior
    (safe only when no reader is active)."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    jvm, fs, _ = _fs(spark, root)
    versions = _list_versions(jvm, fs, root)
    committed = sorted([v for v, ok in versions.items() if ok])
    if not committed:
        return []
    latest = committed[-1]
    survivors = set(committed[-keep:])
    now = _now_ms(jvm)

    def _age_ok(v: int, ok: bool) -> bool:
        if retention_ms <= 0:
            return True
        # committed: age of the _COMMITTED marker (commit time);
        # orphan: age of the version dir itself (write start time —
        # a crashed commit can only get OLDER, a mid-commit writer's
        # dir stays inside the window until it either commits or dies).
        name = (f"{_version_dir(root, v)}/_COMMITTED" if ok
                else _version_dir(root, v))
        try:
            st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(name))
        except Exception:
            return False   # vanished under us — leave it alone
        return now - int(st.getModificationTime()) > retention_ms

    doomed = [v for v, ok in sorted(versions.items())
              if v not in survivors and (ok or v < latest) and _age_ok(v, ok)]
    for v in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(_version_dir(root, v)), True)
    return doomed


def diff_versions(spark: SparkSession, root: str, v_old: int, v_new: int,
                  keys: list[str]) -> DataFrame:
    """Change-data-capture between two committed snapshots of a
    versioned table: one full-outer join on the primary key emitting
    added / removed / changed rows (the `orders_snapshot_diff` shape
    applied to the time-travel store — together with
    `cdc_apply_changes` this closes the loop: any consumer can sync
    from version v_old to v_new by applying this feed). Unchanged
    rows are filtered before materialization, so output is O(churn).

    Key columns are joined null-safely (`<=>`) and side presence is
    derived from literal marker columns, so a row with a NULL key
    value is still classified correctly (a plain-equality join would
    report it simultaneously 'added' and 'removed'). Non-key columns
    are compared null-safely too; the result carries every non-key
    column twice (old_/new_ prefixes). Schemas of the two snapshots
    must match by column name — a dropped or renamed column raises a
    clear error up front instead of an opaque AnalysisException from
    the join."""
    from pyspark.sql import functions as F
    old = read_snapshot(spark, root, v_old)
    new = read_snapshot(spark, root, v_new)
    missing = [k for k in keys if k not in old.columns or k not in new.columns]
    if missing:
        raise ValueError(
            f"diff_versions: key column(s) {missing} absent from "
            f"v{v_old} columns {old.columns} / v{v_new} columns {new.columns}")
    if set(old.columns) != set(new.columns):
        only_old = sorted(set(old.columns) - set(new.columns))
        only_new = sorted(set(new.columns) - set(old.columns))
        raise ValueError(
            f"diff_versions: snapshot schemas differ — columns only in "
            f"v{v_old}: {only_old}; only in v{v_new}: {only_new}. Diff "
            f"requires matching column sets (project first to compare).")
    old = old.withColumn("__old_present", F.lit(True)).alias("o")
    new = new.withColumn("__new_present", F.lit(True)).alias("n")
    non_keys = [c for c in old.columns
                if c not in keys and c != "__old_present"]
    cond = None
    for k in keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else (cond & c)
    j = old.join(new, cond, "full_outer")
    old_present = F.col("o.__old_present").isNotNull()
    new_present = F.col("n.__new_present").isNotNull()
    changed = None
    for c in non_keys:
        d = ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        changed = d if changed is None else (changed | d)
    if changed is None:
        changed = F.lit(False)
    out_cols = [F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
                for k in keys]
    out_cols.append(
        F.when(~old_present, F.lit("added"))
         .when(~new_present, F.lit("removed"))
         .otherwise(F.lit("changed")).alias("change_type"))
    for c in non_keys:
        out_cols.append(F.col(f"o.{c}").alias(f"old_{c}"))
        out_cols.append(F.col(f"n.{c}").alias(f"new_{c}"))
    return (j.filter(~old_present | ~new_present | changed)
            .select(*out_cols))


def compact_latest_version(spark: SparkSession, root: str,
                           target_file_bytes: int = 128 * 1024 * 1024,
                           max_retries: int = 5) -> tuple[int, int] | None:
    """Small-file compaction for the versioned store — the OPTIMIZE of
    the lakehouse engines, built entirely from the store's own commit
    protocol: read the latest committed snapshot, rewrite it into
    ceil(bytes / target) files, and commit the rewrite as a NEW
    version carrying ``base_version`` (optimistic concurrency). The
    logical content is unchanged by construction; only the file layout
    improves. Returns ``(new_version, n_files)``, or ``None`` for an
    empty table.

    Why this shape survives every concurrent actor:
    - READERS on any committed snapshot are untouched — compaction
      never rewrites an existing version dir, it adds one (the old
      layout is reclaimed later by ``vacuum_versions`` under its
      retention guard, same as any superseded version).
    - WRITERS that land between the snapshot read and the commit make
      the compaction's base stale — :class:`StaleBaseError` under the
      write lock — so a compaction can NEVER silently erase a
      concurrent upsert (the lost-update hazard of naive in-place
      OPTIMIZE). The loser here is the cheap side: compaction simply
      re-reads the new latest and retries, up to ``max_retries``.
    - A CRASH mid-rewrite leaves an uncommitted orphan dir above the
      latest committed version — invisible to every reader, reclaimed
      by vacuum once it ages past the retention window.

    At 100 TB this is routine maintenance: per-batch streaming commits
    accumulate file counts that bottleneck the scheduler and parquet
    footer reads long before data volume does; compaction restores
    ~target-sized files without a maintenance outage. Reference
    analog: Postgres VACUUM FULL / CLUSTER rewriting the heap, made
    outage-free by versioning (island_worker.py relies on autovacuum).
    """
    import random
    import time

    last_err: Exception | None = None
    for attempt in range(max_retries + 1):
        v = latest_version(spark, root)
        if v is None:
            return None
        jvm, fs, _ = _fs(spark, root)
        vdir = _version_dir(root, v)
        total = int(fs.getContentSummary(
            jvm.org.apache.hadoop.fs.Path(vdir)).getLength())
        n_files = max(1, -(-total // target_file_bytes))
        snap = read_snapshot(spark, root, v)
        try:
            return (commit_version(snap.repartition(n_files), root,
                                   base_version=v), n_files)
        except ConcurrentWriterError as e:   # includes StaleBaseError
            last_err = e
            if attempt < max_retries:
                time.sleep(0.05 * (2 ** attempt) * (0.5 + random.random()))
    raise last_err  # type: ignore[misc]
