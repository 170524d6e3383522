"""The crash protocol of the persisted stores, written once.

Three stores keep their state as plain parquet directories maintained by
driver-side verbs: the MinHash index (dedup.py: ``sigs/``, ``bands/``),
the IVF-PQ vector store (indexstore.py: ``postings/``) and the session
store (sessionize.py: the store root itself). This module owns the
protocol they share:

* **Path policy.** The protocol does driver-side filesystem surgery
  (os.path probes, renames) that treats the path string literally, so a
  URI scheme would make every probe read "nothing there" and silently
  skip tombstones and recovery. Maintenance verbs therefore refuse every
  scheme (:func:`require_local`); serving verbs, which stay legal on
  remote stores, refuse only ``file://``, the one scheme that aliases a
  local path (:func:`reject_file_scheme`).
* **Single writer.** :func:`single_writer` checks a verb's paths, THEN
  holds the ``_LEASE`` marker on each local one (:func:`store_lease`),
  then repairs interrupted staging, and only then runs the verb.
* **Tombstones.** Deleted keys are appended to ``deletes/`` (one declared
  ``<key> long`` column) and anti-joined out of every read until a
  compaction removes their rows physically and drops the set.
* **Append-pending marker.** The MinHash index's bands-first writers
  (append and merge) hold ``_APPEND_PENDING`` between their two writes
  (:func:`append_pending`).
* **Staged commit.** A rewrite is written in full under ``_compact/``;
  writing ``_compact/_COMMIT`` is the commit point; the swap then moves
  the staged entries into place. Recovery rolls BACK before the marker
  (the live datasets are untouched and authoritative) and FORWARD after
  it. The swap is a list of single filesystem steps computed from the
  marker's manifest and the directory as it stands, so a crash after any
  step is repaired by computing and running the list again.

Each store declares only what differs (:class:`Store`): its swap rule,
which says how staged entries replace live ones, and its tombstone key.

Readers (load/probe) never touch uncommitted staging: before the commit
point the live datasets are authoritative, and the staging may belong to
a writer still running. Committed staging means the live datasets may be
half swapped, so a reader finishes the swap first, under the lease; a
held lease raises :class:`LeaseHeldError`.

This is the snapshot swap of a table format's commit (Delta Lake,
Armbrust et al., VLDB 2020) with a marker file on a local filesystem; at
100 TB the stores belong behind such a table format's metadata
transaction.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Callable

_URI_SCHEME = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")
_LEASE = "_LEASE"
_STAGING = "_compact"
_COMMIT = "_COMMIT"
_APPEND_PENDING = "_APPEND_PENDING"
_TOMBSTONES = "deletes"


class LeaseHeldError(RuntimeError):
    """Another maintenance verb holds the store's writer lease."""


# -- path policy -----------------------------------------------------------
def is_local(path: str) -> bool:
    """True for a plain local path: no URI scheme, ``file://`` included."""
    return not _URI_SCHEME.match(path)


def require_local(path: str, verb: str) -> None:
    """Refuse any URI scheme for a maintenance verb (delete, compact,
    merge, session-store writes): without the refusal, a delete against
    s3a:// would record tombstones through Spark that the literal-path
    probes never apply, and a session write would take every call for a
    first call and overwrite the archive."""
    m = _URI_SCHEME.match(path)
    if m:
        raise NotImplementedError(
            f"{verb}: store maintenance requires a plain local path; got "
            f"scheme '{m.group(1)}://'. For file:// pass the posix path "
            "itself; otherwise host the store on a local/posix mount or "
            "rebuild it at a fresh local path."
        )


def reject_file_scheme(path: str, verb: str) -> None:
    """Refuse ``file://`` for a serving verb (save/load/probe/append/
    build), which stays legal on remote schemes: Spark resolves the alias,
    but the tombstone and recovery probes read the literal string and
    would silently skip what the plain spelling applies."""
    m = _URI_SCHEME.match(path)
    if m and m.group(1).lower() == "file":
        raise NotImplementedError(
            f"{verb}: pass the plain posix path instead of file:// — "
            "the store's tombstone and recovery metadata are resolved "
            "driver-side from the literal path, and the file:// alias "
            "would silently skip them."
        )


# -- single-writer lease ---------------------------------------------------
@contextlib.contextmanager
def store_lease(path: str, verb: str, ttl_seconds: float = 3600.0):
    """Hold the single-writer lease on store ``path`` for the ``with``
    block: a ``_LEASE`` file at the store root (leading underscore, so
    Spark's listing never sees it). Raises :class:`LeaseHeldError`, naming
    the holder, when a non-stale lease is held; takes over a stale one.

    * acquire = ``os.open(O_CREAT | O_EXCL)``, atomic on POSIX: exactly one
      contender wins and records (verb, pid, acquired-at, unique token).
    * staleness is judged by the lease FILE's mtime, never by the holder
      JSON alone — a winner's file is briefly empty before its metadata
      lands, and reading that as epoch-old would let a contender take
      over a lease acquired microseconds ago.
    * a stale lease (a crashed verb never releases) is claimed by an
      atomic ``os.rename`` to a unique name: one of N contenders wins the
      rename, at most one more wins the O_EXCL retry, and the rest see a
      fresh lease and raise. The 1 h default TTL makes takeover of a live
      holder practically impossible on one host; cross-host clock skew is
      out of scope for the same reason URI paths are.
    * release unlinks the lease only if it still carries this
      acquisition's token — a holder that overran the TTL and was taken
      over must not tear down its successor's lease.
    """
    os.makedirs(path, exist_ok=True)
    lease = os.path.join(path, _LEASE)
    token = uuid.uuid4().hex

    def _holder() -> dict:
        h: dict = {}
        with contextlib.suppress(OSError, ValueError):
            with open(lease, encoding="utf-8") as fh:
                h = json.load(fh)
        return h

    fd = None
    for attempt in range(3):
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                age = time.time() - os.stat(lease).st_mtime
            except FileNotFoundError:
                continue  # released between probes — retry the create
            if age <= ttl_seconds or attempt == 2:
                holder = _holder()
                raise LeaseHeldError(
                    f"{verb}: store {path} is held by "
                    f"verb={holder.get('verb', '?')} "
                    f"pid={holder.get('pid', '?')} "
                    f"({age:.0f}s old, ttl={ttl_seconds:.0f}s). "
                    "Maintenance verbs are single-writer; retry after "
                    "the holder finishes, or remove _LEASE if the "
                    "holder is known dead."
                ) from None
            # stale: claim it atomically — one contender wins the
            # rename, the rest retry the O_EXCL create above
            with contextlib.suppress(FileNotFoundError, OSError):
                os.rename(lease, f"{lease}.stale-{token}")
                os.unlink(f"{lease}.stale-{token}")
    if fd is None:
        raise LeaseHeldError(
            f"{verb}: store {path} lease contention — could not "
            "acquire after retries"
        )
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "verb": verb,
                "pid": os.getpid(),
                "acquired": time.time(),
                "token": token,
            },
            fh,
        )
    try:
        yield
    finally:
        if _holder().get("token") == token:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(lease)


def single_writer(
    store: "Store", verb: str, *path_params: str, remote_ok: bool = False
):
    """Decorate a writer verb of ``store``. Each call first checks every
    named path parameter (:func:`require_local`; with ``remote_ok``, for
    the serving-side writers append/build, only :func:`reject_file_scheme`),
    then holds the lease on every local one in declaration order, then
    repairs interrupted staging on each, and only then runs the verb. A
    remote path gets no lease: it keeps the serialize-writers-externally
    contract. Multi-store verbs (merge) lease every named path;
    acquisition fails loudly instead of blocking, so two crossing merges
    cannot deadlock."""
    check = reject_file_scheme if remote_ok else require_local

    def deco(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            paths = [bound.arguments[name] for name in path_params]
            for p in paths:
                check(p, verb)
            local = [p for p in paths if is_local(p)]
            with contextlib.ExitStack() as stack:
                for p in local:
                    stack.enter_context(store_lease(p, verb))
                for p in local:
                    store.recover(p)
                return fn(*args, **kwargs)

        return wrapper

    return deco


# -- staged commit ---------------------------------------------------------
def staging_dir(path: str) -> str:
    """Where a rewrite of store ``path`` stages its replacement."""
    return os.path.join(path, _STAGING)


def _remove(p: str) -> None:
    if os.path.isdir(p) and not os.path.islink(p):
        shutil.rmtree(p)
    elif os.path.lexists(p):
        os.unlink(p)


def _apply(step: tuple) -> None:
    """One swap step: ``("mv", src, dst)`` renames, ``("rm", p)`` removes
    a file or directory if it is there."""
    if step[0] == "mv":
        os.replace(step[1], step[2])
    else:
        _remove(step[1])


def finish_swap(path: str, store: "Store") -> None:
    """Roll committed staging into place: the store's swap steps, then
    (for a store with tombstones) drop ``deletes/`` — its keys are gone
    from the swapped-in datasets — and last drop the staging with its
    marker. The steps are computed from the directory as it stands, so
    running this again after a crash at any step finishes the swap."""
    staging = staging_dir(path)
    with open(os.path.join(staging, _COMMIT), encoding="utf-8") as fh:
        text = fh.read()
    manifest = json.loads(text) if text.startswith("{") else {}
    steps = store.swap(path, staging, manifest)
    if store.key:
        steps.append(("rm", os.path.join(path, _TOMBSTONES)))
    for step in steps + [("rm", staging)]:
        _apply(step)


def staged_entries(staged: str) -> list[str]:
    """The data entries a staged write left under ``staged``, sorted; none
    when the write left no directory."""
    if not os.path.isdir(staged):
        return []
    return sorted(
        e for e in os.listdir(staged) if not e.startswith(("_", "."))
    )


def replace_dirs(*names: str):
    """Swap rule for a store whose staged entries are whole datasets
    ``_compact/<name>``: each staged one replaces the live ``<name>``
    (a dataset already moved is no longer staged and is skipped)."""

    def swap(path: str, staging: str, manifest: dict) -> list:
        steps = []
        for name in names:
            new, live = os.path.join(staging, name), os.path.join(path, name)
            if os.path.isdir(new):
                steps += [("rm", live), ("mv", new, live)]
        return steps

    return swap


@dataclass(frozen=True)
class Store:
    """What one persisted store declares to the protocol: its swap rule,
    ``swap(path, staging, manifest) -> [step, ...]``, and its tombstone
    key (None: the store keeps no tombstones)."""

    swap: Callable[[str, str, dict], list]
    key: str | None = None

    def commit(self, path: str, manifest: dict | None = None) -> None:
        """Write the commit point ``_compact/_COMMIT`` — the manifest as
        JSON, or a bare "committed" line for a swap rule that needs none —
        then swap."""
        marker = os.path.join(staging_dir(path), _COMMIT)
        with open(marker, "w", encoding="utf-8") as fh:
            if manifest is None:
                fh.write("committed\n")
            else:
                json.dump(manifest, fh)
        finish_swap(path, self)

    def recover(self, path: str) -> None:
        """Repair an interrupted rewrite (writers only, under the lease):
        staging without the marker is rolled back, staging with it is
        rolled forward."""
        staging = staging_dir(path)
        if not os.path.isdir(staging):
            return
        if os.path.exists(os.path.join(staging, _COMMIT)):
            finish_swap(path, self)
        else:
            _remove(staging)

    def recover_for_read(self, path: str, verb: str) -> None:
        """A reader's entry: refuse ``file://``; leave uncommitted
        staging alone; finish a committed swap under the lease (raising
        :class:`LeaseHeldError` while a writer holds it)."""
        reject_file_scheme(path, verb)
        if is_local(path) and os.path.exists(
            os.path.join(staging_dir(path), _COMMIT)
        ):
            with store_lease(path, verb):
                self.recover(path)

    def reset(self, path: str) -> None:
        """Before a fresh build at ``path``: drop the staging, tombstones
        and append-pending marker a previous store there left behind
        (stale tombstones would hide fresh rows, and stale committed
        staging would roll forward over them). Remote paths hold none."""
        if is_local(path):
            for name in (_STAGING, _TOMBSTONES, _APPEND_PENDING):
                _remove(os.path.join(path, name))

    # -- tombstones ----------------------------------------------------
    def live(self, spark, path: str, df):
        """``df`` with the tombstoned keys anti-joined out. Unchanged when
        nothing was ever deleted: one os.path probe, so the common case
        plans no extra read (a remote store cannot hold tombstones, so its
        probe's "nothing there" is correct)."""
        d = os.path.join(path, _TOMBSTONES)
        if not os.path.isdir(d):
            return df
        deletes = spark.read.schema(f"{self.key} long").parquet(d)
        return df.join(deletes.distinct(), self.key, "left_anti")

    def record_tombstones(self, spark, path: str, ids, present) -> int:
        """Tombstone the ids of ``ids`` (a DataFrame with the key column,
        or an iterable of ints) that ``present`` (the physical keys) holds
        and that are not tombstoned yet; return how many. The set stays a
        subset of the physical keys, so a compaction always clears it, and
        re-deleting is an idempotent 0."""
        from pyspark.sql import DataFrame

        from samba_spark.operators.guards import tiny_df

        k = self.key
        if isinstance(ids, DataFrame):
            ids = ids.select(ids[k].cast("long").alias(k))
        else:
            ids = tiny_df(spark, [(int(i),) for i in ids], f"{k} long")
        fresh = self.live(
            spark, path, ids.distinct().join(present.select(k), k, "left_semi")
        )
        # lazy cut + count fusion: the count materializes every partition
        # in one job, and the append re-reads the persisted blocks
        fresh = fresh.localCheckpoint(eager=False)
        n = fresh.count()
        if n:
            fresh.write.mode("append").parquet(os.path.join(path, _TOMBSTONES))
        return int(n)


# -- append-pending marker -------------------------------------------------
def pending_marker(path: str) -> str:
    return os.path.join(path, _APPEND_PENDING)


@contextlib.contextmanager
def append_pending(path: str, note: str):
    """Hold ``_APPEND_PENDING`` around a bands-first writer's two appends
    (bands, then sigs, which commit the batch). Yields True when a
    repair is needed: an earlier writer died between its two writes (the
    marker is already there — it stays, sticky, until a compaction
    reconciles bands against sigs), or the path is remote and cannot hold
    the marker. The marker is removed only when the block completes, so
    a crash inside it leaves the witness behind."""
    marker = pending_marker(path)
    dirty = not is_local(path) or os.path.exists(marker)
    if not dirty:
        with open(marker, "w") as fh:
            fh.write(note)
    yield dirty
    if not dirty:
        os.remove(marker)


# -- maintenance-log counters ----------------------------------------------
def count_data_files(path: str) -> int:
    """Data files under ``path``, recursively (partition dirs count their
    files, not themselves), whatever their suffix; ``_``/``.`` entries —
    markers, staging, checksums — are skipped."""
    n = 0
    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def counting(df):
    """``df`` with a row count riding its next action (a Spark
    Observation — no separate counting pass), and a callable that returns
    the count once that action has run."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), (
        lambda: int(obs.get["n"])
    )
