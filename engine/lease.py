"""Single-writer run lease — mutual exclusion for concurrent pipeline runs.

Two `TierPipeline.run()`s racing on one root are not serializable: both
would read the same manifest state, decide the same partitions are pending,
and double-write them (the manifest's atomic commit protects readers from
torn METADATA, but last-writer-wins on the data trees silently drops one
run's work). Real table formats solve this with optimistic commit conflicts
(Iceberg) or a catalog lock (Hive/Delta LogStore); on a bare filesystem the
portable primitive is an exclusive lease file:

- `acquire()` creates `<root>/_lease` with ``O_CREAT | O_EXCL`` — atomic on
  POSIX local filesystems and on HDFS (create w/o overwrite). Object stores
  without atomic create would swap this seam for a conditional PUT.
- The file carries ``{owner, pid, token, acquired_unix, heartbeat_unix,
  ttl_s}``. A holder refreshes ``heartbeat_unix`` via temp-file + rename.
- A lease is BREAKABLE when its holder pid is provably dead on this host or
  its heartbeat is older than the TTL (crashed JVM on another host). Break
  + re-acquire re-races through ``O_EXCL``, so two breakers cannot both win.
- `release()` verifies the stored random token still matches before
  unlinking, so a holder whose stale lease was legitimately broken and
  re-acquired by someone else cannot delete the new holder's lease.

The pipeline acquires around `run()` (release in ``finally`` — an audit
veto or stage failure frees the root immediately); the manifest itself
stays append-only and idempotent, so mutual exclusion here is an
availability guarantee, not a correctness crutch: a lease bug degrades to
the pre-existing double-work race, never to corruption of committed state.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from .io import atomic_write


class LeaseHeldError(RuntimeError):
    """Another live run holds this root's lease."""


class RunLease:
    FILE = "_lease"

    def __init__(self, root: str, owner: str = "", ttl_s: float = 3600.0):
        self.root = root
        self.path = os.path.join(root, self.FILE)
        self.owner = owner or f"pid-{os.getpid()}"
        self.ttl_s = float(ttl_s)
        self._token: str | None = None

    # -- internals ----------------------------------------------------------

    def _read(self) -> dict | None:
        try:
            with open(self.path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None
        except (json.JSONDecodeError, OSError):
            # torn write from a crashed holder: breakable iff old enough
            try:
                age = time.time() - os.path.getmtime(self.path)
            except OSError:
                return None
            return {"pid": -1, "heartbeat_unix": time.time() - age,
                    "ttl_s": self.ttl_s, "owner": "<corrupt>", "token": ""}

    @staticmethod
    def _pid_alive(pid: int) -> bool:
        if pid <= 0:
            return False
        try:
            os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True

    def _breakable(self, st: dict) -> bool:
        if time.time() - st.get("heartbeat_unix", 0) > st.get("ttl_s", self.ttl_s):
            return True  # heartbeat expired (holder may be on another host)
        # same-host fast path: a dead pid cannot heartbeat again
        return st.get("host") == os.uname().nodename and not self._pid_alive(
            int(st.get("pid", -1))
        )

    def _try_create(self) -> bool:
        token = uuid.uuid4().hex
        payload = json.dumps(
            {
                "owner": self.owner,
                "pid": os.getpid(),
                "host": os.uname().nodename,
                "token": token,
                "acquired_unix": time.time(),
                "heartbeat_unix": time.time(),
                "ttl_s": self.ttl_s,
            }
        )
        os.makedirs(self.root, exist_ok=True)
        try:
            fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        self._token = token
        return True

    # -- API ----------------------------------------------------------------

    def acquire(self) -> "RunLease":
        if self._try_create():
            return self
        st = self._read()
        if st is None:
            # holder released between our O_EXCL miss and the read — re-race
            if self._try_create():
                return self
            st = self._read() or {}
        if st and self._breakable(st):
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass
            if self._try_create():  # re-race: only one breaker wins O_EXCL
                return self
            st = self._read() or {}
        if self._token is None:
            raise LeaseHeldError(
                f"{self.root} is being written by {st.get('owner', '?')} "
                f"(pid {st.get('pid', '?')} on {st.get('host', '?')}, "
                f"heartbeat {time.time() - st.get('heartbeat_unix', 0):.0f}s "
                "ago); concurrent runs on one root are refused"
            )
        return self

    def heartbeat(self) -> None:
        """Refresh the liveness stamp (call between long stages)."""
        st = self._read()
        if not st or st.get("token") != self._token:
            raise LeaseHeldError(f"lost lease on {self.root} (broken as stale)")
        st["heartbeat_unix"] = time.time()
        atomic_write(self.path, json.dumps(st))  # token unchanged

    def release(self) -> None:
        if self._token is None:
            return
        st = self._read()
        # only unlink OUR lease: if it was broken + re-acquired, leave the
        # new holder's file alone
        if st and st.get("token") == self._token:
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass
        self._token = None

    def held(self) -> bool:
        return self._token is not None

    def __enter__(self) -> "RunLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()
