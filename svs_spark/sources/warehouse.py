"""Warehouse storage for a KnowledgeBase: one directory = one KB
(parity with "one SQLite file = one KB", reference ``src/svs/kb.py:66-113``),
holding one parquet table per svs table (docs, edges, keyval, _meta).

Mutation model: read-modify-write with an atomic directory swap —
parquet is immutable, so each committed mutation writes a fresh table
directory and renames it into place (the moral equivalent of svs's
single-transaction bulk writes, ``kb.py:794-829``).

Point-update scale path: a table may be *bucketed* — laid out as
``<table>/_pb=<k>/`` partitions keyed by ``pmod(key, n_buckets)``. A
point mutation (update one doc's meta/vector, delete a handful of ids)
then reads and rewrites ONLY the touched buckets — 1/n of the table,
with the read side pruned by the partition filter — instead of a full
table rewrite.

A table's layout is fixed when it is created: a bucketed table stays
bucketed for its whole life. An empty bucketed table is its
``_buckets.json`` plus one schema-only parquet file in a ``_pb=``
directory (a partitioned write of zero rows leaves nothing readable),
so reads and bucket rewrites never need a plain-table fallback.

Remote open parity (``src/svs/util.py:97-187``): ``http(s)://`` KBs are
downloaded once into a local cache keyed by URL sha256; ``file://`` and
plain paths are used directly. ``.gz`` single-file exports are
decompressed transparently.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
import time
import urllib.request
import warnings
from contextlib import contextmanager
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

REMOTE_CACHE_DIR = ".remote_cache"
BUCKET_META_FILE = "_buckets.json"
WRITER_LOCK_SUFFIX = ".writer.lock"


def _start_lock_heartbeat(lp: str, token: bytes, stale_after_s: float):
    """Daemon thread refreshing the lock file mtime so a legitimately
    slow holder (a multi-hour rollup overwrite at scale) is never
    stale-broken while still writing: staleness now means "no live
    holder process", not "write took longer than stale_after_s". The
    beat verifies the file still holds OUR token before touching, so a
    broken-and-reacquired lock is never refreshed on someone else's
    behalf. Returns (stop_event, thread)."""
    import threading

    stop = threading.Event()
    beat_s = min(max(stale_after_s / 4.0, 0.05), 10.0)

    def run():
        while not stop.wait(beat_s):
            try:
                with open(lp, "rb") as f:
                    if f.read(len(token)) != token:
                        return  # displaced — stop beating, never touch
                os.utime(lp)
            except OSError:
                return  # released or broken — nothing to refresh

    t = threading.Thread(
        target=run, name=f"writer-lock-heartbeat:{lp}", daemon=True
    )
    t.start()
    return stop, t


def _break_stale_lock(lp: str, stale_after_s: float) -> bool:
    """Break an apparently-stale lock via atomic rename-to-tombstone so
    exactly ONE contender wins (the check-then-unlink race let two
    contenders both judge stale, one unlink the other's fresh
    re-acquisition, and both proceed). After the rename we re-verify
    the captured file's mtime: if a heartbeat raced us and the lock is
    actually fresh, restore it (hard-link back if the slot is still
    empty) and report no break. Returns True iff the lock was broken."""
    tomb = f"{lp}.tomb.{os.getpid()}.{time.monotonic_ns()}"
    try:
        os.rename(lp, tomb)
    except OSError:
        return False  # another contender won, or holder released
    try:
        age = time.time() - os.path.getmtime(tomb)
    except OSError:
        return True
    if age <= stale_after_s:
        # raced with a live holder's refresh — give the lock back
        try:
            os.link(tomb, lp)
        except OSError:
            pass  # slot re-taken; the displaced holder's beat will stop
        try:
            os.unlink(tomb)
        except OSError:
            pass
        return False
    warnings.warn(
        f"broke stale writer lock (age {age:.0f}s > "
        f"{stale_after_s:.0f}s, holder stopped heartbeating): {lp}"
    )
    try:
        os.unlink(tomb)
    except OSError:
        pass
    return True


@contextmanager
def path_writer_lock(
    path: str,
    timeout_s: float = 60.0,
    stale_after_s: float = 3600.0,
    held: set[str] | None = None,
):
    """Advisory writer lock on an arbitrary table/rollup PATH — the
    core behind :meth:`Warehouse.write_lock`, exposed standalone for
    writers that manage raw parquet paths (the persisted sketch
    rollups). O_CREAT|O_EXCL lock file (atomic on POSIX;
    put-if-absent is the object-store analogue), heartbeat-refreshed
    mtime while held (so "stale" means dead holder, not slow write),
    single-winner stale break via atomic rename, TimeoutError on a
    live contender. ``held`` enables re-entrancy for a caller-owned
    set of held paths."""
    if held is not None and path in held:
        yield
        return
    lp = path.rstrip("/") + WRITER_LOCK_SUFFIX
    os.makedirs(os.path.dirname(lp) or ".", exist_ok=True)
    token = f"pid={os.getpid()} t={time.time()} n={time.monotonic_ns()}".encode()
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token)
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lp)
            except OSError:
                continue  # holder released between attempts
            if age > stale_after_s and _break_stale_lock(lp, stale_after_s):
                continue
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"another writer holds the lock {lp} "
                    f"(age {age:.0f}s); not corrupting the table — "
                    f"retry or remove the lock if the holder is dead"
                )
            time.sleep(0.2)
    stop, beat = _start_lock_heartbeat(lp, token, stale_after_s)
    if held is not None:
        held.add(path)
    try:
        yield
    finally:
        stop.set()
        beat.join(timeout=1.0)
        if held is not None:
            held.discard(path)
        try:
            # only release OUR lock — if it was stale-broken and
            # re-acquired by another process, leave theirs in place
            with open(lp, "rb") as f:
                mine = f.read(len(token)) == token
            if mine:
                os.unlink(lp)
        except OSError:
            pass


def resolve_location(path_or_url: str, cache_root: str = ".") -> str:
    """Resolve a KB location to a local directory path.

    - plain path / file:// → the path itself
    - http(s):// → download (once) into .remote_cache/<sha256>/
      (reference: URL-sha256 cache, util.py:97-136)
    """
    if path_or_url.startswith("file://"):
        return path_or_url[len("file://"):]
    if path_or_url.startswith(("http://", "https://")):
        key = hashlib.sha256(path_or_url.encode()).hexdigest()
        cache_dir = os.path.join(cache_root, REMOTE_CACHE_DIR, key)
        if not os.path.exists(cache_dir):
            os.makedirs(cache_dir, exist_ok=True)
            fname = os.path.join(cache_dir, os.path.basename(path_or_url))
            urllib.request.urlretrieve(path_or_url, fname)  # noqa: S310
            if fname.endswith(".gz"):
                with gzip.open(fname, "rb") as fin:
                    with open(fname[:-3], "wb") as fout:
                        shutil.copyfileobj(fin, fout)
        return cache_dir
    return path_or_url


class Warehouse:
    """Directory of parquet tables with atomic-swap rewrites."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._held_locks: set[str] = set()
        os.makedirs(root, exist_ok=True)

    # -- cross-process writer guard ---------------------------------------

    @contextmanager
    def write_lock(
        self,
        name: str,
        timeout_s: float = 60.0,
        stale_after_s: float = 3600.0,
    ):
        """Advisory per-table writer lock: a second PROCESS attempting
        to mutate the same table fails fast (TimeoutError) instead of
        interleaving read-modify-write cycles. The rollup/bucket
        protocols' single-writer assumption (_rollup_common.py) becomes
        an enforced invariant rather than a convention.

        Mechanics: O_CREAT|O_EXCL lock file next to the table — atomic
        on POSIX; on object stores the same role is played by a
        put-if-absent, which is the upgrade path when this directory
        layout moves off a filesystem. Re-entrant within one Warehouse
        instance (a caller may hold the lock across its own read-modify-
        write; the inner write's acquire is then a no-op).
        While held, a heartbeat thread refreshes the lock mtime, so a
        lock older than ``stale_after_s`` means the holder PROCESS is
        dead (crashed writer), not merely slow — a multi-hour rollup
        overwrite keeps its lock alive. Dead-holder locks are broken
        with a warning via single-winner atomic rename
        (:func:`_break_stale_lock`); safe because every commit below
        is staging+atomic-rename, so the table itself is never left
        mid-write; only the ADVISORY exclusion needs recovering."""
        with path_writer_lock(
            self.table_path(name), timeout_s, stale_after_s,
            held=self._held_locks,
        ):
            yield

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.table_path(name))

    def read(self, name: str) -> DataFrame:
        df = self.spark.read.parquet(self.table_path(name))
        return df.drop("_pb") if "_pb" in df.columns else df

    # -- whole-table rewrites: staging + atomic swap ------------------------

    def _swap_in(self, name: str, write_staging) -> None:
        """Atomically replace table ``name``: ``write_staging(staging)``
        fully materializes the new contents to <name>.staging before the
        swap, so a failed job never corrupts the current table
        (rollback-on-exception parity, kb.py:804-821)."""
        with self.write_lock(name):
            path = self.table_path(name)
            staging = path + ".staging"
            old = path + ".old"
            if os.path.exists(staging):
                shutil.rmtree(staging)
            write_staging(staging)
            if os.path.exists(path):
                os.rename(path, old)
            os.rename(staging, path)
            if os.path.exists(old):
                shutil.rmtree(old)
            self._refresh_cached(path)

    def _refresh_cached(self, path: str) -> None:
        """Spark matches a cached plan by its root path, not by the files
        under it, so a DataFrame persisted from this table by another
        KnowledgeBase instance would keep serving the replaced rows (a
        KB reopened with force_fresh_db at the same path saw its old
        docs). Recache every cached plan reading ``path``."""
        self.spark.catalog.refreshByPath(path)

    def write(self, name: str, df: DataFrame) -> None:
        """Atomically replace plain table ``name`` with ``df``."""
        self._swap_in(name, df.write.mode("overwrite").parquet)

    # -- bucketed layout: point mutations touch 1/n of the table ----------

    def bucket_meta(self, name: str) -> dict | None:
        p = os.path.join(self.table_path(name), BUCKET_META_FILE)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    @staticmethod
    def bucket_of(key: int, n_buckets: int) -> int:
        """Python twin of the layout's pmod(key, n) — valid for negative
        (xxhash64) ids too."""
        return key % n_buckets if key >= 0 else (key % n_buckets + n_buckets) % n_buckets

    @staticmethod
    def _bucket_dirs(path: str) -> set[str]:
        return {d for d in os.listdir(path) if d.startswith("_pb=")}

    @staticmethod
    def _write_partitioned(
        df: DataFrame, key_col: str, n_buckets: int, out: str
    ) -> None:
        (
            df.withColumn(
                "_pb", F.pmod(F.col(key_col), F.lit(n_buckets)).cast("int")
            )
            .repartition(F.col("_pb"))
            .write.mode("overwrite")
            .partitionBy("_pb")
            .parquet(out)
        )

    @staticmethod
    def _write_schema_only(df: DataFrame, out: str, pb: int) -> None:
        """The one file an empty bucketed table keeps: zero rows with
        ``df``'s schema in ``_pb=<pb>``, so the table stays readable."""
        df.limit(0).write.parquet(os.path.join(out, f"_pb={pb}"))

    def write_bucketed(
        self, name: str, df: DataFrame, key_col: str, n_buckets: int
    ) -> None:
        """Atomically (re)write ``name`` partitioned by
        ``_pb = pmod(key_col, n_buckets)`` — empty or not, the result
        is a bucketed table.  Bulk rewrites stay atomic via the same
        staging+swap as ``write``; the payoff is that subsequent POINT
        mutations go through ``overwrite_buckets`` and touch only their
        own partitions."""

        def write_staging(staging: str) -> None:
            self._write_partitioned(df, key_col, n_buckets, staging)
            if not self._bucket_dirs(staging):
                self._write_schema_only(df, staging, 0)
            with open(os.path.join(staging, BUCKET_META_FILE), "w") as f:
                json.dump({"key_col": key_col, "n_buckets": n_buckets}, f)

        self._swap_in(name, write_staging)

    def ensure_bucketed(
        self, name: str, schema: StructType, key_col: str, n_buckets: int
    ) -> None:
        """Give ``name`` the bucketed layout ``(key_col, n_buckets)``:
        create it empty with ``schema`` if missing, rewrite it once if
        it was written plain or with another layout, else do nothing."""
        if self.bucket_meta(name) == {"key_col": key_col, "n_buckets": n_buckets}:
            return
        rows = (
            self.read(name)
            if self.exists(name)
            else self.spark.createDataFrame([], schema)
        )
        self.write_bucketed(name, rows, key_col, n_buckets)

    def read_buckets(self, name: str, buckets: list[int]) -> DataFrame:
        """Rows of the given buckets only — the ``_pb IN (...)`` filter
        is a partition filter, so the scan never opens other buckets'
        files."""
        df = self.spark.read.parquet(self.table_path(name))
        return df.filter(F.col("_pb").isin(buckets)).drop("_pb")

    def overwrite_buckets(
        self, name: str, buckets: list[int], df: DataFrame
    ) -> None:
        """Replace the given buckets' contents with ``df`` (which must
        hold exactly those buckets' post-state, without ``_pb``).  Each
        bucket stages fully before an atomic per-partition dir swap, so
        a failed job never corrupts the table — the touched-files-only
        behavior of a lakehouse MERGE, minus cross-bucket transaction
        isolation (documented tradeoff)."""
        with self.write_lock(name):
            meta = self.bucket_meta(name)
            if meta is None:
                raise ValueError(f"{name} is not bucketed")
            path = self.table_path(name)
            staging = path + ".bucket_staging"
            if os.path.exists(staging):
                shutil.rmtree(staging)
            self._write_partitioned(
                df, meta["key_col"], meta["n_buckets"], staging
            )
            touched = {f"_pb={pb}" for pb in buckets}
            if not self._bucket_dirs(staging) and (
                self._bucket_dirs(path) <= touched
            ):
                # every bucket empties: keep the table bucketed and readable
                self._write_schema_only(df, staging, buckets[0])
            for pb in buckets:
                part = os.path.join(path, f"_pb={pb}")
                newpart = os.path.join(staging, f"_pb={pb}")
                oldpart = part + ".old"
                if os.path.exists(oldpart):
                    shutil.rmtree(oldpart)
                if os.path.exists(part):
                    os.rename(part, oldpart)
                if os.path.exists(newpart):
                    os.rename(newpart, part)
                if os.path.exists(oldpart):
                    shutil.rmtree(oldpart)
            shutil.rmtree(staging)
            self._refresh_cached(path)

    def drop_all(self) -> None:
        """force_fresh_db parity (kb.py:951-952): delete + recreate."""
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        os.makedirs(self.root, exist_ok=True)

    def compact(self, name: str) -> None:
        """VACUUM-ish (kb.py:831-834): rewrite small-file debris away.
        Bucketed tables recompact to one file per bucket, keeping the
        point-update layout; plain tables coalesce to a single file."""
        if not self.exists(name):
            return
        meta = self.bucket_meta(name)
        if meta is not None:
            self.write_bucketed(
                name, self.read(name), meta["key_col"], meta["n_buckets"]
            )
        else:
            self.write(name, self.read(name).coalesce(1))

    def export_gzip(self, out_dir: str) -> None:
        """close(also_gzip=True) parity (kb.py:969-995): write a
        gzip-compressed parquet export of every table."""
        os.makedirs(out_dir, exist_ok=True)
        for name in sorted(os.listdir(self.root)):
            src = self.table_path(name)
            if not os.path.isdir(src):
                continue
            self.read(name).write.mode("overwrite").option(
                "compression", "gzip"
            ).parquet(os.path.join(out_dir, name))
