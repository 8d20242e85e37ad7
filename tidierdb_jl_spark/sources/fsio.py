"""Driver-side metadata I/O through the Hadoop FileSystem API.

The persistent-state family (:mod:`tidierdb_jl_spark.llm.dedupstate`,
:mod:`~tidierdb_jl_spark.llm.vectorindex`,
:mod:`~tidierdb_jl_spark.llm.corpusstate`) keeps its DATA as Spark
parquet writes — which already go through Hadoop and work on any
filesystem Spark can reach — but its METADATA (the JSON sidecar holding
bloom bitmaps / centroids / counters) and its compaction swaps used to
be Python ``open()`` / ``os.rename`` / ``shutil.rmtree``: driver-local
POSIX only.  A 100 TB state lives on object storage (``s3a://``,
``abfss://``, ``gs://``) or HDFS, where those calls fail outright.
This module is the port: every helper resolves the path's scheme
through ``Path.getFileSystem(hadoopConf)``, so a plain ``/tmp/state``,
a ``file:///`` URI, ``hdfs://`` and ``s3a://`` all behave the same
(given the scheme's connector jars on the classpath).

All Hadoop helpers are DRIVER-side and metadata-sized (a JSON file, a
rename) — never row data.  Row data stays in Spark jobs.  The Arrow
helpers, :func:`arrow_fs`, :func:`read_bytes` and :func:`list_names`,
are their EXECUTOR-safe counterparts for Python workers, which hold no JVM
handle: footer probes, data-file writes, deletion-vector reads and the
streaming sources' pure-Python IO.  This module imports nothing from
Spark at module level, so workers can import it.

Atomicity contract (documented, scheme-dependent):

- ``write_text_atomic`` writes ``<path>.tmp`` fully, deletes ``<path>``,
  renames the tmp over it.  On POSIX/HDFS the rename is atomic and the
  only crash window is *between* delete and rename — which is why
  ``read_text(..., tmp_fallback=True)`` recovers from the fully-written
  tmp.  On S3-style object stores rename is copy+delete (not atomic),
  but the same ordering still guarantees a reader sees either the old
  meta, the new meta, or the recoverable tmp — never a torn file,
  because every PUT is all-or-nothing at the object level.
- ``swap_dir`` (compaction) renames ``src`` aside, moves ``tmp`` in,
  deletes the old copy — the crash contract is spelled out per call
  site; the invariant is that a fully-written replacement exists on
  disk before the original is touched.

Reference: beyond the reference (TidierDB.jl delegates all storage to
its backends); the pattern follows ``sources/writers.py``'s
``_dataset_exists`` / ``compact_files``.
"""

from __future__ import annotations

__all__ = [
    "join_path",
    "hadoop_fs",
    "arrow_fs",
    "read_bytes",
    "list_names",
    "fs_exists",
    "fs_mkdirs",
    "fs_delete",
    "fs_rename",
    "read_text",
    "read_json_retry",
    "write_text_atomic",
    "swap_dir",
    "writer_lock",
]


def join_path(base: str, *parts: str) -> str:
    """Scheme-preserving path join: ``os.path.join`` mangles URI schemes
    on some platforms and ignores them semantically; Hadoop paths always
    use ``/``."""
    out = str(base).rstrip("/")
    for p in parts:
        out += "/" + str(p).strip("/")
    return out


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path``, resolved via the session's Hadoop
    configuration — local paths get the local FS, ``hdfs://``/``s3a://``
    their connectors."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(str(path))
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def arrow_fs(url: str):
    """(pyarrow FileSystem, path) for ``url``, usable without a JVM:
    local paths and ``file://`` URIs get the local filesystem, any
    other scheme ``pyarrow.fs.FileSystem.from_uri`` — with Hadoop's
    ``s3a://`` spelled ``s3://``, the only S3 scheme pyarrow knows."""
    from pyarrow import fs as pafs

    url = str(url)
    if "://" not in url:
        return pafs.LocalFileSystem(), url
    if url.startswith("file://"):
        return pafs.LocalFileSystem(), url[len("file://"):]
    if url.startswith("s3a://"):
        url = "s3://" + url[len("s3a://"):]
    return pafs.FileSystem.from_uri(url)


def read_bytes(url: str) -> bytes:
    """Whole-file bytes through :func:`arrow_fs` — for small files
    (commit logs, manifests, deletion-vector sidecars)."""
    filesystem, pth = arrow_fs(url)
    with filesystem.open_input_stream(pth) as fh:
        return fh.read()


def list_names(url: str) -> list[str] | None:
    """Basenames directly under directory ``url`` through
    :func:`arrow_fs`, or None when ``url`` is not a directory."""
    from pyarrow import fs as pafs

    filesystem, pth = arrow_fs(url)
    if filesystem.get_file_info(pth).type != pafs.FileType.Directory:
        return None
    return [fi.base_name
            for fi in filesystem.get_file_info(pafs.FileSelector(pth))]


def fs_exists(spark, path: str) -> bool:
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def fs_mkdirs(spark, path: str) -> None:
    fs, hpath = hadoop_fs(spark, path)
    fs.mkdirs(hpath)


def fs_delete(spark, path: str, recursive: bool = True) -> bool:
    """Delete; returns False when the path did not exist."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    return bool(fs.delete(hpath, recursive))


def fs_rename(spark, src: str, dst: str) -> None:
    fs, hsrc = hadoop_fs(spark, src)
    _, hdst = hadoop_fs(spark, dst)
    if not fs.rename(hsrc, hdst):
        raise IOError(f"rename {src} -> {dst} failed")


def read_text(spark, path: str, tmp_fallback: bool = False) -> str:
    """Read a whole (small, metadata-sized) UTF-8 file.  With
    ``tmp_fallback`` a missing ``path`` recovers from ``<path>.tmp`` —
    the fully-written temp that ``write_text_atomic`` leaves behind if a
    crash lands between its delete and its rename."""
    fs, hpath = hadoop_fs(spark, path)
    if tmp_fallback and not fs.exists(hpath):
        tmp = spark._jvm.org.apache.hadoop.fs.Path(str(path) + ".tmp")
        if fs.exists(tmp):
            hpath = tmp
    stream = fs.open(hpath)
    try:
        out = spark._jvm.java.io.ByteArrayOutputStream()
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, False)
        return out.toString("UTF-8")
    finally:
        stream.close()


def read_json_retry(spark, path: str, retries: int = 10,
                    delay_s: float = 0.05) -> dict:
    """Read a small JSON metadata file, tolerating the torn-read windows
    the module's writers can expose: ``write_text_atomic``'s documented
    delete→rename gap (file briefly missing — recovered via the ``.tmp``
    fallback) and an in-place heartbeat overwrite (``fs.create(path,
    True)`` truncates before it writes, so a concurrent reader can see
    an empty or partial file).  Both windows are microseconds wide and
    writer-paced (heartbeats are seconds apart), so a bounded retry with
    a short sleep always lands between writes on a live system.  Raises
    the last error once ``retries`` are exhausted — a persistently
    unreadable file is a real problem, not a race."""
    import json as _json
    import time as _time

    last: Exception | None = None
    for attempt in range(max(1, int(retries))):
        if attempt:
            _time.sleep(delay_s)
        try:
            text = read_text(spark, path, tmp_fallback=True)
            return _json.loads(text)
        except Exception as exc:  # noqa: BLE001 — missing/empty/partial
            last = exc
    raise last  # type: ignore[misc]


def write_text_atomic(spark, path: str, text: str) -> None:
    """Write ``<path>.tmp`` fully, then swap it over ``path``.  See the
    module docstring for the per-scheme atomicity contract; pair readers
    with ``read_text(..., tmp_fallback=True)``."""
    fs, hpath = hadoop_fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(str(path) + ".tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(hpath):
        fs.delete(hpath, False)
    if not fs.rename(tmp, hpath):
        raise IOError(f"rename {path}.tmp -> {path} failed")


def swap_dir(spark, src: str, tmp: str) -> None:
    """Replace directory ``src`` with fully-written ``tmp`` (compaction's
    commit step): ``src`` → ``src.old``, ``tmp`` → ``src``, delete
    ``src.old``.  Crash contract: before the first rename both copies
    exist (safe); between the renames the data lives at ``src.old`` +
    ``tmp`` (recoverable by hand, loudly absent at ``src``); after the
    second rename the state is committed and the ``.old`` delete is
    garbage collection.  On object stores each rename is a non-atomic
    copy+delete — run compaction from a single writer, which is the
    state family's existing single-writer contract."""
    old = str(src).rstrip("/") + ".old"
    fs_delete(spark, old, recursive=True)
    fs_rename(spark, src, old)
    fs_rename(spark, tmp, src)
    fs_delete(spark, old, recursive=True)


def writer_lock(spark, state_path: str, holder: str | None = None,
                stale_s: float = 300.0, heartbeat_s: float = 60.0):
    """Advisory single-writer lock for a state directory — a context
    manager::

        with writer_lock(spark, path, holder="ingest-job-42"):
            state = DedupState.open(spark, path)
            state.ingest(batch, "doc_id")

    Creates ``<state_path>/_writer.lock`` with ``create(overwrite=
    False)`` — atomic on POSIX/HDFS (a concurrent second writer gets a
    clean ``already held`` error), check-then-create on S3-style object
    stores (a narrow race window remains — hence ADVISORY; the state
    family's correctness contract is still single-writer-by-orchestration
    and the lock is a guard rail, not a fence).

    LEASE RENEWAL (r10): while held, a daemon thread re-writes the lock
    body with a fresh ``ts`` every ``heartbeat_s`` — the overwrite of a
    file we already own, safe on every scheme.  Staleness is therefore
    judged against the last HEARTBEAT, not the acquisition, which lets
    ``stale_s`` default to 5 minutes instead of the old 1 hour: a live
    writer running a week-long ingest keeps its lock (heartbeats keep
    the ts fresh), while a crashed writer's lock goes stale one
    ``stale_s`` after its last heartbeat.  A stale lock is broken with a
    loud reclaim note in the new lock's body.  ``heartbeat_s`` must be
    comfortably below ``stale_s`` (a 5x margin is enforced loosely: a
    heartbeat that cannot keep up risks self-eviction only if the
    holder also stops writing — renewal failures surface as a warning,
    not silent loss).  ``heartbeat_s=0`` disables renewal (the r9
    behavior — then set ``stale_s`` to cover your longest job).  The
    lock is released on exit, including on error."""
    import contextlib
    import getpass
    import json as _json
    import socket
    import threading
    import time as _time
    import warnings as _warnings

    @contextlib.contextmanager
    def _ctx():
        fs, _ = hadoop_fs(spark, str(state_path))
        lock = join_path(str(state_path), "_writer.lock")
        hlock = spark._jvm.org.apache.hadoop.fs.Path(lock)
        who = holder or f"{getpass.getuser()}@{socket.gethostname()}"

        def _write_body(overwrite: bool, note: str = "") -> bool:
            try:
                stream = fs.create(hlock, overwrite)
            except Exception:  # noqa: BLE001 — FileAlreadyExists et al.
                return False
            try:
                stream.write(bytearray(_json.dumps(
                    {"holder": who, "ts": _time.time(), "note": note,
                     "heartbeat_s": heartbeat_s}
                ).encode("utf-8")))
            finally:
                stream.close()
            return True

        if not _write_body(False):
            # read_json_retry, not a bare read_text: the holder's
            # heartbeat overwrites the lock in place (truncate+write),
            # so a single read can land in the torn window and decode
            # garbage — which would make a LIVE lock look ts-less and
            # stale, letting this writer steal it.  Retrying lands
            # between heartbeats; only a persistently unreadable file
            # is treated as foreign/torn.
            try:
                prev = read_json_retry(spark, lock)
            except Exception:  # noqa: BLE001 — torn/foreign lock file
                prev = {}
            age = _time.time() - float(prev.get("ts", 0))
            if age <= stale_s:
                raise RuntimeError(
                    f"writer lock on {state_path} already held by "
                    f"{prev.get('holder', '<unknown>')} (last heartbeat "
                    f"{age:.0f}s ago, stale after {stale_s:.0f}s); the "
                    "state family is single-writer — wait, or break the "
                    "lock by deleting _writer.lock if the holder is "
                    "known dead"
                )
            fs_delete(spark, lock, recursive=False)
            if not _write_body(False,
                               note=f"reclaimed stale lock "
                                    f"({prev.get('holder', '?')}, "
                                    f"{age:.0f}s since last heartbeat)"):
                raise RuntimeError(
                    f"writer lock on {state_path}: lost the reclaim race"
                )

        stop = threading.Event()

        def _renew() -> None:
            # _write_body swallows fs.create failures into False, so the
            # boolean result — not an exception — is the failure signal
            # here; a silent False would let a live holder be evicted as
            # stale with no diagnostic.
            while not stop.wait(heartbeat_s):
                try:
                    ok = _write_body(True, note="heartbeat")
                except Exception:  # noqa: BLE001 — keep holding
                    ok = False
                if not ok:
                    _warnings.warn(
                        f"writer lock heartbeat on {state_path} failed; "
                        f"the lock may be reclaimed as stale after "
                        f"{stale_s:.0f}s without a successful renewal",
                        stacklevel=2,
                    )

        hb = None
        if heartbeat_s and heartbeat_s > 0:
            hb = threading.Thread(target=_renew, daemon=True,
                                  name="writer-lock-heartbeat")
            hb.start()
        try:
            yield lock
        finally:
            stop.set()
            if hb is not None:
                hb.join(timeout=5.0)
            fs_delete(spark, lock, recursive=False)

    return _ctx()
