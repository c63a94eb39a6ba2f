"""Sink adapters — SURVEY §2.1 (S7-S13).

* Warehouse append (S7/S8): ``df.write.mode("append")`` — writer
  batching is Spark's native behavior; the reference's 100-row VALUES
  batches (app.py:983-1014) exist because it drove a cursor by hand.
* REST sink (S10): the reference bulk-POSTs sync rows to an external
  API (app.py:6707-6733). Spark-side this is ``foreachPartition`` with
  a pluggable poster and a bounded batch size — each executor posts
  its partition; no driver collect.
* Excel sink (S11): presentation-layer export via pandas on the
  driver (only ever for human-sized result pages, never for data
  movement).
* Ledger (S13): subsumed by the streaming checkpoint
  (streaming/blob_ingest.py); kept here only as an explicit append
  helper for non-streaming callers.
* Register store (M5 move, M6 approve): every register —
  ``api.TagRegistry``'s, the streaming MERGE sink's target, and the
  registers :func:`move_records` / :func:`promote_records` write — is a
  directory of copy-on-write versions. A write commits a new ``v<N>``
  directory under the register's writer lease; a reader reads exactly
  one committed version.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .merge import first_per_key


# ---------------------------------------------------------------------------
# Writer lease — the register store's concurrency contract made
# explicit. Every register write reads the current version, computes
# the post-state and commits it as a new version. Two writers
# interleaving that sequence on one register would each commit a
# post-state of the same base, and the later commit would silently
# drop the earlier one's effect. The lease below makes the second
# writer fail LOUDLY instead. It is best-effort local mutual exclusion
# (O_CREAT|O_EXCL on the shared filesystem), not a fenced distributed
# lock: a cluster deployment of concurrent writers belongs on a
# transactional table format (Delta/Iceberg) or an external
# coordinator, as README.md documents.
# ---------------------------------------------------------------------------

# A holder that died without releasing must not brick the register:
# leases older than this are presumed crashed and are stolen. Sized
# far above any single register write (seconds) and far below
# operator-intervention timescales.
LEASE_TTL_S = 900

# lease path -> ident of the thread holding it. Re-entrancy is per
# thread: another thread of this process is a second writer.
_HELD_LEASES: dict[str, int] = {}


class ConcurrentWriterError(RuntimeError):
    """A second writer touched a single-writer register."""


_HOSTNAME = os.uname().nodename


def _holder_pid_exists(holder: str) -> bool | None:
    """Same-host pid-liveness probe for a lease holder: True when the
    recorded pid exists on THIS host right now, False when it is gone,
    None when the holder cannot be verified (other host, old format,
    unparsable). A gone pid is a crashed holder — crash-replay of a
    promote recovers immediately instead of waiting out the TTL
    (ADVICE r12). An existing pid past the TTL is a holder still
    running (a daily sync longer than 900 s) and must NOT be stolen —
    stealing would re-open the concurrent double-run the lease exists
    to prevent (ADVICE r13). Unverifiable holders keep the plain TTL
    steal as their only recovery. Residual: a recycled pid can make a
    crashed holder look alive — the error message names the lease file
    for operator removal, the documented escape."""
    fields = dict(f.split("=", 1) for f in holder.split() if "=" in f)
    if fields.get("host") != _HOSTNAME or not fields.get("pid", "").isdigit():
        return None
    try:
        os.kill(int(fields["pid"]), 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass  # EPERM etc.: the pid exists
    return True


def _steal_lease(lease: str, observed: os.stat_result) -> bool:
    """Steal a lease OBSERVED stale, racing other stealers safely
    (ADVICE r12 TOCTOU): a blind ``os.remove`` can delete a FRESH
    lease created between the staleness check and the remove, letting
    two writers acquire. Instead, claim whatever sits at the path by
    renaming it to a name only we use, then verify (st_ino, st_mtime)
    that it IS the file we observed stale. On a mismatch we displaced
    a live lease a competing stealer just created — put it back with
    ``os.link`` (no-clobber, unlike rename) so the competitor keeps
    its acquisition, and report failure so the caller re-examines.
    Returns True iff the stale lease is gone and the path is free."""
    steal = f"{lease}.steal.{os.getpid()}"
    try:
        os.rename(lease, steal)
        current = os.stat(steal)
    except OSError:
        return False  # released, or another stealer's rename won
    if (current.st_ino, current.st_mtime) == (observed.st_ino, observed.st_mtime):
        os.remove(steal)
        return True
    try:
        os.link(steal, lease)  # restore the live lease we displaced
    except OSError:
        # EEXIST: a third writer created a FRESH lease while the
        # displaced one was out of place — the restore cannot win.
        # Leave the displaced LIVE lease at the steal path (ADVICE
        # r13: deleting it here silently destroyed a competitor's
        # acquisition record, and its token-verified release would
        # then be a no-op while an operator saw no trace). Two
        # writers now believe they hold the register — unavoidable
        # once the displacement happened — so say so loudly.
        import warnings

        warnings.warn(
            f"{lease}: displaced a live lease and could not restore it "
            f"(a third writer re-acquired); the displaced holder's "
            f"record is preserved at {steal} — two writers may be "
            "active on this register, serialize them manually",
            UserWarning,
            stacklevel=2,
        )
        return False
    with contextlib.suppress(OSError):
        os.remove(steal)
    return False


@contextlib.contextmanager
def register_lease(main_path: str, purpose: str):
    """Best-effort single-writer lease on a register: an atomic
    ``<root>.__lease__`` create (O_EXCL). A live lease raises
    :class:`ConcurrentWriterError` naming the holder; only a
    dead-holder lease (same-host pid provably gone) or a stale lease
    whose holder is NOT verifiably alive is stolen, via
    rename-and-verify (never a blind remove — see
    :func:`_steal_lease`). A holder past :data:`LEASE_TTL_S` whose
    same-host pid still exists keeps BLOCKING (ADVICE r13: a daily
    sync longer than the TTL must not have its lease stolen by the
    next tick — that re-opens the double-run). Exhausting the bounded
    acquisition attempts RAISES rather than proceeding unprotected
    (ADVICE r13: the fall-through acquired nothing yet wrote to
    ``_HELD_LEASES`` and later removed a competitor's live lease).
    Release is token-verified: the lease file is removed only if it
    is still OURS, so an overrun holder whose lease was stolen never
    deletes the thief's. Re-entrant within the holding thread
    (``TagRegistry.import_rows`` commits through ``upsert_tags``);
    another thread of the same process blocks like any other writer."""
    root = main_path.rstrip("/")
    lease = root + ".__lease__"
    thread = threading.get_ident()
    if _HELD_LEASES.get(lease) == thread:
        yield
        return
    parent = os.path.dirname(root)
    if parent:
        os.makedirs(parent, exist_ok=True)
    token = (
        f"pid={os.getpid()} host={_HOSTNAME} purpose={purpose} "
        f"nonce={os.urandom(8).hex()}"
    )
    for _ in range(3):  # steal/retry is bounded: never spin forever
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                fh.write(token)
            break
        except FileExistsError:
            try:
                observed = os.stat(lease)
                holder = open(lease).read()
            except OSError:
                continue  # holder released between the create and the stat
            age = time.time() - observed.st_mtime
            alive = _holder_pid_exists(holder)
            if alive is False:
                _steal_lease(lease, observed)  # on failure, retry re-examines
                continue
            if age < LEASE_TTL_S or alive:
                raise ConcurrentWriterError(
                    f"{root}: another writer holds the register lease "
                    f"({holder}, {age:.0f}s old); registers are "
                    "single-writer — serialize the writers, or "
                    f"remove {lease} if the holder is known dead"
                ) from None
            _steal_lease(lease, observed)  # stale + unverifiable: TTL rules
    else:
        raise ConcurrentWriterError(
            f"{root}: could not acquire register lease for {purpose!r} "
            "after bounded retries (lease churn — competing writers are "
            "acquiring/releasing faster than this one can claim); "
            "registers are single-writer, serialize the callers"
        )
    _HELD_LEASES[lease] = thread
    try:
        yield
    finally:
        _HELD_LEASES.pop(lease, None)
        with contextlib.suppress(OSError):
            if open(lease).read() == token:  # still ours — see docstring
                os.remove(lease)


def append_parquet(df: DataFrame, path: str) -> None:
    """S7/S8 — append-mode warehouse write."""
    df.write.mode("append").parquet(path)


def rest_sink(df: DataFrame, poster: Callable[[list[dict]], None], batch_size: int = 100) -> None:
    """S10 — POST rows to an external endpoint in bounded batches, one
    worker per partition (the reference's single-threaded bulk POST
    app.py:6707-6733 becomes partition-parallel). ``poster`` receives a
    list of row dicts; inject the real HTTP call (or a collector in
    tests)."""

    def send_partition(rows: Iterable) -> None:
        batch: list[dict] = []
        for row in rows:
            batch.append(row.asDict(recursive=True))
            if len(batch) >= batch_size:
                poster(batch)
                batch = []
        if batch:
            poster(batch)

    df.foreachPartition(send_partition)


EXPORT_MAX_ROWS = 100_000


def export_excel(df: DataFrame, path: str, header_map: dict[str, str] | None = None,
                 exclude: list[str] | None = None) -> str:
    """S11 — styled-export shape (reference export_to_excel_endpoint
    app.py:7379-7483): column exclusion (P4) + human header rename
    (P3) + driver-side export. Falls back to CSV when no Excel engine
    is installed; returns the path written. Guarded by
    ``EXPORT_MAX_ROWS`` — this is a presentation sink, not a data
    path: a frame with more rows raises ``ValueError`` and writes
    nothing."""
    out = df
    if exclude:
        out = out.drop(*exclude)
    if header_map:
        out = out.withColumnsRenamed(header_map)
    pdf = out.limit(EXPORT_MAX_ROWS + 1).toPandas()
    if len(pdf) > EXPORT_MAX_ROWS:
        raise ValueError(
            f"export_excel: more than {EXPORT_MAX_ROWS} rows; "
            "filter or page the frame before exporting"
        )
    try:
        pdf.to_excel(path, index=False)  # needs openpyxl
        return path
    except (ImportError, ModuleNotFoundError):
        root, _ = os.path.splitext(path)  # rsplit('.') would truncate at a dotted dir name
        csv_path = root + ".csv"
        pdf.to_csv(csv_path, index=False)
        return csv_path


def empty_frame(spark: SparkSession, types: dict[str, str]) -> DataFrame:
    """An empty frame of the given column types, planned in the JVM:
    reading it runs no task (an empty ``createDataFrame`` runs a Python
    worker per partition)."""
    return spark.range(0).select(*[F.lit(None).cast(t).alias(c) for c, t in types.items()])


@contextlib.contextmanager
def _register_leases(paths: Iterable[str], purpose: str):
    """:func:`register_lease` on every register in ``paths``, taken in
    sorted path order: of two writers racing over the same registers,
    one gets every lease instead of each holding some."""
    with contextlib.ExitStack() as stack:
        for path in sorted({p.rstrip("/") for p in paths}):
            stack.enter_context(register_lease(path, purpose))
        yield


def _has_success(path: str) -> bool:
    """True iff the directory holds a completed Hadoop job commit."""
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _version_num(name: str) -> int | None:
    """N of a version directory named ``v<N>`` or ``v<N>-<request id>``;
    None for any other name."""
    num = name[1:].split("-", 1)[0]
    return int(num) if name.startswith("v") and num.isdigit() else None


def _current_version(root: str, max_num: int | None = None) -> str | None:
    """Newest COMMITTED version dir of ``root`` with N at or below
    ``max_num`` — the copy-on-write version pick shared by
    ``api.TagRegistry``, the streaming MERGE sink, the move/promote
    sinks and the blob-ingest retry state. Versions are named ``v<N>``
    or ``v<N>-<request id>`` and ordered by N alone, numerically: a
    lexicographic sort would pick a stale version whenever the digit
    count changes. A version counts only with its ``_SUCCESS`` marker:
    a writer killed mid job-commit (part files promoted, marker absent)
    must stay invisible, and the previous committed version stays
    current instead."""
    if not os.path.isdir(root):
        return None
    versions = {
        v: n
        for v in os.listdir(root)
        if (n := _version_num(v)) is not None
        and (max_num is None or n <= max_num)
        and _has_success(os.path.join(root, v))
    }
    if not versions:
        return None
    return os.path.join(root, max(versions, key=versions.get))


# A committed version directory never changes, so its schema is known
# once it has been written or read: passing it to ``spark.read.schema``
# skips the schema-inference job ``spark.read.parquet`` runs on every
# read. One (version path, schema) entry per versions directory keeps
# the memo bounded by the number of registers and stream targets. Each
# entry is a fact about an immutable directory, so callers and threads
# can share it: a lost update costs one inference. The file source
# forces a given schema to nullable, as inference does, so both reads
# yield the same schema.
_VERSION_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def _read_version(spark: SparkSession, path: str) -> DataFrame:
    """Read the committed version at ``path`` (from
    :func:`_current_version`), inferring its schema only the first
    time this process sees that version."""
    known = _VERSION_SCHEMAS.get(os.path.dirname(path))
    if known is not None and known[0] == path:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    _VERSION_SCHEMAS[os.path.dirname(path)] = (path, df.schema)
    return df


def read_current(
    spark: SparkSession, root: str, max_num: int | None = None
) -> DataFrame | None:
    """The register's current version (see :func:`_current_version`),
    or None when it has no committed version."""
    path = _current_version(root, max_num)
    return None if path is None else _read_version(spark, path)


def _write_version(df: DataFrame, path: str) -> None:
    """Write ``df`` as the version directory ``path`` and record its
    schema for :func:`_read_version`."""
    df.write.mode("overwrite").parquet(path)
    _VERSION_SCHEMAS[os.path.dirname(path)] = (path, df.schema)


def _commit_version(df: DataFrame, root: str, request_id: str | None = None) -> str:
    """Commit ``df`` as the next version of the register ``root`` and
    return its path: ``v<N>``, or ``v<N>-<request_id>`` for a
    request-scoped commit, with N = max(wall-clock ns, current N + 1).
    Wall-clock ns survives process restarts (monotonic_ns has an
    undefined epoch across processes) and, zero-padded, keeps even a
    naive lexicographic listing in order; the floor keeps a backwards
    clock step (an NTP correction) from committing a version that never
    becomes current."""
    os.makedirs(root, exist_ok=True)
    cur = _current_version(root)
    floor = _version_num(os.path.basename(cur)) + 1 if cur else 0
    name = f"v{max(time.time_ns(), floor):025d}"
    if request_id is not None:
        name += f"-{request_id}"
    path = os.path.join(root, name)
    _write_version(df, path)
    return path


def _commit_once(root: str, request_id: str, post: Callable[[], DataFrame]) -> None:
    """Commit ``post()`` as the version of ``root`` for ``request_id``
    unless that commit already exists — a replay skips it. Uncommitted
    attempts a crashed run left behind are removed first."""
    attempts = [
        os.path.join(root, v)
        for v in (os.listdir(root) if os.path.isdir(root) else [])
        if _version_num(v) is not None and v.split("-", 1)[1:] == [request_id]
    ]
    if any(_has_success(p) for p in attempts):
        return
    for stale in attempts:
        shutil.rmtree(stale)
    _commit_version(post(), root, request_id)


def _require_current(spark: SparkSession, root: str) -> DataFrame:
    df = read_current(spark, root)
    if df is None:
        raise ValueError(f"{root}: no committed version")
    return df


def _committed_files(root: str) -> list[str]:
    """Part files of the FULLY COMMITTED child dirs of ``root``. Two
    crash shapes must stay invisible to readers: a dir holding only
    ``_temporary/`` (killed mid-write — no part files at all) and a
    dir holding SOME part files but no ``_SUCCESS`` (killed mid
    job-commit, after the committer started promoting task files but
    before the marker) — hence the marker check, not just a file glob."""
    import glob as _glob

    out: list[str] = []
    for d in sorted(_glob.glob(os.path.join(root, "*"))):
        if _has_success(d):
            out.extend(sorted(_glob.glob(os.path.join(d, "*.parquet"))))
    return out


def move_records(
    spark,
    src_path: str,
    dst_path: str,
    predicate,
    key_cols: list[str],
    move_id: str,
    on_between: Callable[[], None] | None = None,
) -> None:
    """M5 — the reference's transactional insert->delete record move
    (app.py:5365-5444) on two copy-on-write registers: the rows of the
    ``src_path`` register matching ``predicate`` move to the
    ``dst_path`` register, exactly once per ``move_id``. Three ordered
    commits, each skipped on replay once its ``_SUCCESS`` exists:

    1. the decision: the matching rows of src's current version,
       written to ``dst/moves/<move_id>`` — read by this move's own
       replays only, never by a reader;
    2. dst's version ``v<N>-<move_id>``: dst's current version plus
       the decided rows (the decided rows alone for a new register);
    3. src's version ``v<N>-<move_id>``: src's current version minus
       the decided rows' keys.

    Commits 2 and 3 read the decision back instead of re-evaluating
    ``predicate``, so a replay never re-decides against a source that
    changed in between. A crash leaves only uncommitted directories,
    which readers never see, and the next call with the same
    ``move_id`` finishes the remaining commits. Between commits 2 and
    3 a moved row is visible in both registers (read-committed per
    register, not a snapshot across them); the replay closes that
    window. ``on_between`` is the chaos seam tests use to kill the
    move there. The move holds the writer lease of both registers."""
    record = os.path.join(dst_path, "moves", move_id)
    with _register_leases((src_path, dst_path), f"move {move_id}"):
        if not _has_success(record):
            _require_current(spark, src_path).where(predicate).write.mode(
                "overwrite"
            ).parquet(record)
        moved = spark.read.parquet(record)

        def dst_post() -> DataFrame:
            dst = read_current(spark, dst_path)
            return moved if dst is None else dst.unionByName(moved)

        _commit_once(dst_path, move_id, dst_post)
        if on_between is not None:
            on_between()
        _commit_once(
            src_path,
            move_id,
            lambda: _require_current(spark, src_path).join(
                moved.select(*key_cols).distinct(), key_cols, "left_anti"
            ),
        )


def promote_records(
    spark,
    staging_path: str,
    main_path: str,
    status_path: str,
    predicate,
    key_cols: list[str],
    action_col: str,
    promote_id: str,
    staging_key_cols: list[str] | None = None,
    on_between: Callable[[int], None] | None = None,
    bootstrap_ok: bool = False,
) -> None:
    """M6 — the reference's approve workflow (approve_tag_equipment
    app.py:5706-5888) on copy-on-write registers: approved staging rows
    promote into the main register with Add-vs-Edit validation, a
    status row is recorded, and the promoted rows leave staging — three
    effects the reference wraps in one DB transaction. Here they are
    four ordered commits, exactly once per ``promote_id``, each skipped
    on replay once its ``_SUCCESS`` exists:

    1. the decision: the VALID approved rows of staging's current
       version (an Edit needs an existing main key, an Add a missing
       one, checked against main's current version), written to
       ``main/promotes/<promote_id>`` — read by this promote's own
       replays only. Invalid rows stay in staging, like the
       reference's validation failures;
    2. main's version ``v<N>-<promote_id>``: main's current rows whose
       key was not promoted, plus one promoted row per key in main's
       columns (staging must carry every main column). A promote that
       holds several valid submissions of one key keeps a
       deterministic one — the greatest by the remaining columns —
       but which carries no meaning, so collapse them before
       promoting;
    3. ``status_path/<promote_id>``: one disposition row per promoted
       row (read the status rows with ``_committed_files``);
    4. staging's version ``v<N>-<promote_id>``: staging's current
       version minus the promoted submissions.

    Commits 2-4 derive from the decision read back, so a replay never
    re-validates against inputs that changed in between. A crash
    leaves only uncommitted directories, and a replay finishes the
    remaining commits; until it does, a promoted row can be visible in
    both registers, but never lost.

    ``staging_key_cols`` is the staging ROW identity (defaults to
    ``key_cols``): commit 4 removes the submission, not the entity —
    removing by entity key would also drop a later resubmission of the
    same key (the normal approval loop). ``on_between(i)`` is the chaos
    seam, called after commit i (1-3). A main register with no
    committed version is refused unless ``bootstrap_ok=True``, so a
    mistyped ``main_path`` fails loudly instead of starting a fresh
    register. The promote holds the writer lease of main and staging."""
    from pyspark.sql import functions as F

    staging_key_cols = staging_key_cols or key_cols
    record = os.path.join(main_path, "promotes", promote_id)
    status = os.path.join(status_path, promote_id)
    with _register_leases((main_path, staging_path), f"promote {promote_id}"):
        if not _has_success(record):
            staged = _require_current(spark, staging_path).where(predicate)
            main = read_current(spark, main_path)
            if main is None and not bootstrap_ok:
                raise ValueError(
                    f"{main_path}: no committed version; pass bootstrap_ok=True "
                    "to initialize a brand-new register (the guard exists so a "
                    "mistyped main_path fails loudly instead of bootstrapping)"
                )
            if main is None:
                valid = staged.where(F.col(action_col) == "Add")
            else:
                keys = main.select(*key_cols).distinct()
                valid = (
                    staged.join(keys, key_cols, "left_semi")
                    .where(F.col(action_col) == "Edit")
                    .unionByName(
                        staged.join(keys, key_cols, "left_anti").where(
                            F.col(action_col) == "Add"
                        )
                    )
                )
            valid.write.mode("overwrite").parquet(record)
        if on_between is not None:
            on_between(1)
        promoted = spark.read.parquet(record)

        def main_post() -> DataFrame:
            rest = sorted(c for c in promoted.columns if c not in key_cols)
            winners = first_per_key(promoted, key_cols, *[F.col(c).desc() for c in rest])
            main = read_current(spark, main_path)
            if main is None:
                return winners
            return main.join(winners.select(*key_cols), key_cols, "left_anti").unionByName(
                winners.select(*main.columns)
            )

        _commit_once(main_path, promote_id, main_post)
        if on_between is not None:
            on_between(2)
        if not _has_success(status):
            promoted.select(
                *key_cols,
                F.col(action_col).alias("action"),
                F.when(F.col(action_col) == "Edit", F.lit("edited"))
                .otherwise(F.lit("added"))
                .alias("disposition"),
            ).write.mode("overwrite").parquet(status)
        if on_between is not None:
            on_between(3)
        _commit_once(
            staging_path,
            promote_id,
            lambda: _require_current(spark, staging_path).join(
                promoted.select(*staging_key_cols).distinct(),
                staging_key_cols,
                "left_anti",
            ),
        )


def append_ledger(entries: list[str], path: str) -> None:
    """S13 — processed-file ledger append (reference app.py:6921-6931);
    the streaming checkpoint replaces this for stream sources."""
    with open(path, "a") as f:
        for e in entries:
            f.write(json.dumps({"path": e}) + "\n")
