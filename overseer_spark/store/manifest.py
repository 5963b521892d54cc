"""Object-store-safe CAS store: an optimistic commit log over a single
conditional-write primitive ("create this key iff it does not exist").

``FileCASStore`` gives genuine cross-process CAS but its atomicity rests
on ``link(2)`` — sound on POSIX/NFS/Lustre, unavailable on S3/GCS-style
object stores where a 100 TB deployment's job metadata would plausibly
live. This backend re-expresses the reference's row-level optimistic
locking (``UPDATE ... WHERE id = ? AND lock_version = ?`` —
overseer/store/jdbc.clj:62-87) on the one primitive every modern object
store exposes natively:

- **S3**: ``PutObject`` with ``If-None-Match: *`` (conditional write)
- **GCS**: ``ifGenerationMatch=0`` precondition
- **ABFS/HDFS/POSIX**: create-exclusive (``O_CREAT|O_EXCL``)

The design is the publicly documented Delta Lake commit protocol
(delta.io PROTOCOL.md "Delta Log Entries"): a totally ordered log of
immutable JSON entries ``_log/{N:020d}.json``; committing version N means
winning the conditional write of that key. Every entry carries one
all-or-nothing transaction of *actions* plus the per-job lock_version it
expects; replay is deterministic, so every reader derives the same state:

- ``insert_graph``: valid iff none of its job ids exist at replay point
  (the Datomic all-or-nothing guard, store/datomic.clj:67-78).
- ``cas``: valid iff the job exists and its lock_version equals
  ``expect`` — exactly the reference's conditional UPDATE returning 0
  rows when stale.

A writer always proposes at ``latest+1`` immediately after replaying
through ``latest``, so a won slot implies the precondition was evaluated
against the exact prior state; losing the conditional write means
re-read-and-retry (or surface the lost race, per the protocol method's
contract). **Version fencing**: after a successful conditional write the
writer re-reads its slot and only reports success if its own
``writer_id`` occupies it — this fences out the local emulation's
recovery path (below) and, on object stores, any retried-PUT ambiguity.

Checkpoints (``_log/{N:020d}.ckpt.json``) snapshot the full replayed
state every ``checkpoint_every`` commits, Delta-style, so replay cost is
O(checkpoint_every), not O(history); ``compact()`` additionally deletes
log entries already covered by the newest checkpoint. Readers that race
``compact()`` and hit a deleted entry simply re-list and retry from the
newest checkpoint. A handle caches its last replayed head state, and head
replays list the log only from that cached head onward
(``ConditionalWriter.list(prefix, start_after=)``, S3 ``StartAfter``/GCS
``startOffset``), as Delta readers list from a known version: a commit
costs O(delta), not O(log length).

Local emulation caveat: a real object-store PUT is atomic — a key either
holds the complete body or does not exist. The filesystem test double
(`LocalConditionalWriter`) approximates this with create-exclusive plus
a single ``write(2)`` of the whole payload; a writer that dies mid-write
could in principle leave a torn entry, so every entry embeds a checksum
and replay quarantines (atomically renames away) entries that stay
unparseable past a grace period, freeing the slot. The version fencing
above makes that recovery safe: a slow writer whose entry was quarantined
observes a foreign ``writer_id`` in its slot and reports the race as
lost. None of this machinery is needed on S3/GCS — it exists so the
protocol is crash-safe even on the weakest local approximation.

Scale stance: identical to FileCASStore — the job table is metadata (one
tiny JSON per transition; the same rows the reference keeps in Postgres/
Datomic). Set queries go through the same DataFrame operators
(operators/scheduling.py) so ready/dead/closure plan identically; the
state fed to them is the replayed snapshot, parallelized from the driver
exactly as a JDBC scan of the reference's job table would be.

Writes need no SparkSession — worker OS processes construct
``ManifestCASStore(None, path)`` and coordinate purely through
conditional writes; only the DataFrame read surface requires ``spark``.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import time
import uuid
from typing import AbstractSet, Any, Mapping, Protocol

from pyspark.sql import DataFrame, SparkSession

from overseer_spark.core import (
    DEPENDENCIES_SCHEMA,
    JOBS_SCHEMA,
    STATUS_ABORTED,
    STATUS_FAILED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.store.base import IllegalTransition, Store

_MAX_RETRIES = 256
_ENTRY_W = 20  # zero-padded width => lexicographic == numeric order


class ConditionalWriter(Protocol):
    """The one storage capability the commit protocol needs. Swap in an
    S3 client (``put_object(..., IfNoneMatch="*")``) or GCS client
    (``if_generation_match=0``) without touching the store logic."""

    def put_if_absent(self, key: str, data: bytes) -> bool: ...
    def get(self, key: str) -> bytes | None: ...
    def list(self, prefix: str, start_after: str | None = None) -> list[str]:
        """Sorted keys under ``prefix``; with ``start_after``, only keys
        sorting after it (S3 ``StartAfter``, GCS ``startOffset``)."""
        ...

    def delete(self, key: str) -> None: ...
    def rename_away(self, key: str, dest: str) -> bool: ...
    def age_seconds(self, key: str) -> float | None: ...


class LocalConditionalWriter:
    """Filesystem test double for an object store's conditional write.

    ``put_if_absent`` = ``O_CREAT|O_EXCL`` + one full-payload ``write(2)``
    — create-exclusive is the POSIX analogue of S3 ``If-None-Match: *``.
    No ``link(2)``, no rename-as-publish: the protocol layer must (and
    does) tolerate the resulting torn-write window via checksums.
    """

    def __init__(self, root: str, fsync: bool = False) -> None:
        self.root = root
        self.fsync = fsync

    def _p(self, key: str) -> str:
        return os.path.join(self.root, key)

    def ensure_root(self, prefix: str) -> None:
        os.makedirs(self._p(prefix), exist_ok=True)

    def put_if_absent(self, key: str, data: bytes) -> bool:
        try:
            fd = os.open(self._p(key), os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
            if self.fsync:
                os.fsync(fd)
        finally:
            os.close(fd)
        return True

    def get(self, key: str) -> bytes | None:
        try:
            with open(self._p(key), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def list(self, prefix: str, start_after: str | None = None) -> list[str]:
        try:
            names = os.listdir(self._p(prefix))
        except FileNotFoundError:
            return []
        keys = sorted(f"{prefix}/{n}" for n in names)
        if start_after is not None:
            keys = keys[bisect.bisect_right(keys, start_after) :]
        return keys

    def delete(self, key: str) -> None:
        try:
            os.unlink(self._p(key))
        except FileNotFoundError:
            pass

    def rename_away(self, key: str, dest: str) -> bool:
        try:
            os.rename(self._p(key), self._p(dest))
            return True
        except FileNotFoundError:
            return False

    def age_seconds(self, key: str) -> float | None:
        try:
            return max(0.0, time.time() - os.path.getmtime(self._p(key)))
        except FileNotFoundError:
            return None


def _now_micros() -> int:
    return time.time_ns() // 1_000


def _entry_crc(entry: dict) -> str:
    body = json.dumps(entry, sort_keys=True)
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def _encode_entry(entry: dict) -> bytes:
    return json.dumps(
        {"crc": _entry_crc(entry), "entry": entry}, sort_keys=True
    ).encode()


class TimeTravelUnavailable(ValueError):
    """Requested as-of version precedes the retained history: compact()
    deleted the entries and no checkpoint at-or-below that version
    survives, so the state cannot be reconstructed. Raised instead of
    silently returning empty state (which would be indistinguishable
    from an actually-empty store)."""


def _decode_entry(data: bytes) -> dict | None:
    """Entry dict, or None if torn/corrupt (checksum mismatch)."""
    try:
        wrapper = json.loads(data)
        body = json.dumps(wrapper["entry"], sort_keys=True)
        if hashlib.sha256(body.encode()).hexdigest()[:16] != wrapper["crc"]:
            return None
        return wrapper["entry"]
    except (ValueError, KeyError, TypeError):
        return None


class _State:
    """Deterministically replayed current state."""

    __slots__ = ("version", "jobs", "edges")

    def __init__(self) -> None:
        self.version = -1  # last applied log version
        self.jobs: dict[str, dict] = {}
        self.edges: list[tuple[str, str]] = []

    def apply(self, entry: dict) -> bool:
        """Apply one log entry; False iff its precondition failed (the
        whole transaction is then a no-op — all-or-nothing)."""
        ok = True
        for a in entry["actions"]:
            if a["op"] == "insert_graph":
                if any(r["id"] in self.jobs for r in a["rows"]):
                    ok = False
            elif a["op"] == "cas":
                cur = self.jobs.get(a["id"])
                if cur is None or cur["lock_version"] != a["expect"]:
                    ok = False
        if not ok:
            return False
        for a in entry["actions"]:
            if a["op"] == "insert_graph":
                for r in a["rows"]:
                    self.jobs[r["id"]] = dict(r)
                self.edges.extend((e[0], e[1]) for e in a["edges"])
            elif a["op"] == "cas":
                nxt = dict(self.jobs[a["id"]])
                nxt.update(a["set"])
                nxt["lock_version"] = a["expect"] + 1
                self.jobs[a["id"]] = nxt
        return True

    def copy(self) -> "_State":
        """Shallow copy: ``apply`` replaces payload dicts, never mutates them."""
        s = _State()
        s.version = self.version
        s.jobs = dict(self.jobs)
        s.edges = list(self.edges)
        return s

    def snapshot(self) -> dict:
        return {
            "version": self.version,
            "jobs": self.jobs,
            "edges": [list(e) for e in self.edges],
        }

    @classmethod
    def from_snapshot(cls, snap: dict) -> "_State":
        s = cls()
        s.version = snap["version"]
        s.jobs = {k: dict(v) for k, v in snap["jobs"].items()}
        s.edges = [(e[0], e[1]) for e in snap["edges"]]
        return s


class ManifestCASStore(Store):
    """Store with object-store-safe cross-process CAS (module docstring).

    ``spark`` may be None for write-only use (worker processes); the
    DataFrame accessors then raise and set queries fall back to the
    in-driver truth table (same as FileCASStore).
    """

    LOG = "_log"

    def __init__(
        self,
        spark: SparkSession | None,
        path: str,
        fsync: bool = False,
        checkpoint_every: int = 32,
        torn_grace_s: float = 2.0,
        client: ConditionalWriter | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.checkpoint_every = checkpoint_every
        self.torn_grace_s = torn_grace_s
        self.client: ConditionalWriter = client or LocalConditionalWriter(
            path, fsync=fsync
        )
        self._writer_id = uuid.uuid4().hex
        # incremental-replay cache: (last replayed head state, crc of the
        # newest entry it applied). Head replays list and read only keys
        # from the cached head onward. The crc lets reuse detect a
        # quarantine-and-rewrite of the head slot (TOCTOU: a slow writer's
        # torn entry can be quarantined by another reader AFTER we read it
        # whole and cached it). One attribute, so threads sharing a handle
        # always see a matching pair; the cached state is never mutated.
        self._cache: tuple[_State, str | None] | None = None

    # -- commit log --------------------------------------------------------

    def install(self) -> None:
        ensure = getattr(self.client, "ensure_root", None)
        if ensure is not None:
            ensure(self.LOG)

    def _entry_key(self, version: int) -> str:
        return f"{self.LOG}/{version:0{_ENTRY_W}d}.json"

    def _ckpt_key(self, version: int) -> str:
        return f"{self.LOG}/{version:0{_ENTRY_W}d}.ckpt.json"

    @property
    def _cache_head_crc(self) -> str | None:
        cache = self._cache
        return cache[1] if cache is not None else None

    def _scan_log(self, from_version: int = -1) -> tuple[list[int], list[int]]:
        """(sorted entry versions, sorted checkpoint versions), listing only
        keys at or after ``from_version`` when it is a real version."""
        start_after = (
            f"{self.LOG}/{from_version:0{_ENTRY_W}d}" if from_version >= 0 else None
        )  # a bare version sorts just before its own .ckpt.json and .json
        entries, ckpts = [], []
        for key in self.client.list(self.LOG, start_after=start_after):
            name = key.rsplit("/", 1)[-1]
            if name.endswith(".ckpt.json"):
                ckpts.append(int(name[: -len(".ckpt.json")]))
            elif name.endswith(".json") and not name.startswith("."):
                entries.append(int(name[: -len(".json")]))
        return sorted(entries), sorted(ckpts)

    def _read_entry(self, version: int) -> dict | None:
        """Validated entry, or None for a missing/quarantined slot.

        A torn entry (checksum failure — possible only under the local
        emulation, see module docstring) is re-read within the grace
        period, then quarantined via atomic rename, which frees the slot
        for the next proposer. The original writer's version fencing
        detects the loss."""
        deadline = time.monotonic() + self.torn_grace_s
        key = self._entry_key(version)
        while True:
            data = self.client.get(key)
            if data is None:
                return None
            entry = _decode_entry(data)
            if entry is not None:
                return entry
            age = self.client.age_seconds(key)
            if age is not None and age > self.torn_grace_s:
                self.client.rename_away(
                    key, f"{self.LOG}/.quarantine-{version}-{uuid.uuid4().hex}"
                )
                return None
            if time.monotonic() > deadline:
                return None
            time.sleep(0.01)

    def _replay(self, upto: int | None = None) -> _State:
        """Deterministic replay of the commit log; ``upto`` bounds the
        replay to log versions ≤ upto — time travel over the manifest
        (available back to the newest checkpoint ≤ upto; compact()
        truncates history below its checkpoint, and requesting a version
        older than the retained history raises ``TimeTravelUnavailable``
        rather than silently replaying to an empty state).

        Head replays (``upto=None``) are incremental: entries are
        immutable once validly committed, so the previous replayed state
        is a correct prefix and only keys from the cached head onward are
        listed and read — a poll loop costs one LIST from the head + one
        head-verification GET (``_cache_valid``) plus the delta, not
        O(history). Any inconsistency (gap from compaction, a quarantined
        slot, a head crc mismatch) drops the cache and retries from a full
        listing.

        The returned state may be the cached one: callers must not
        mutate it."""
        for _ in range(_MAX_RETRIES):
            cache = self._cache if upto is None else None  # one read per replay
            state, head_crc = _State(), None
            if cache is not None:
                entries, ckpts = self._scan_log(cache[0].version)
                if not self._cache_valid(cache, entries, ckpts):
                    # the cached head entry was quarantined (and possibly
                    # rewritten by a new proposer) after we applied it —
                    # the cache is a wrong prefix; relist in full
                    self._cache = None
                    continue
                state, head_crc = cache
            else:
                entries, ckpts = all_entries, all_ckpts = self._scan_log()
                if upto is not None:
                    entries = [v for v in entries if v <= upto]
                    ckpts = [v for v in ckpts if v <= upto]
                    if (all_entries or all_ckpts) and not (
                        ckpts or (entries and entries[0] == 0)
                    ):
                        # history at/below `upto` is gone (compacted past
                        # it): raise rather than silently replaying to
                        # empty state
                        raise TimeTravelUnavailable(
                            f"version {upto} not available for time travel: "
                            f"history retained from version "
                            f"{min(all_ckpts + all_entries)} onward"
                        )
            if state.version < 0 and ckpts:
                data = self.client.get(self._ckpt_key(ckpts[-1]))
                snap = _decode_entry(data) if data is not None else None
                if snap is not None:
                    state = _State.from_snapshot(snap)
                    head_crc = None  # checkpoint states are fence-verified
            restart = False
            for v in entries:
                if v <= state.version:
                    continue
                if v != state.version + 1:
                    # gap: either compact() deleted below a checkpoint we
                    # have not seen yet, or a slot is being (re)written —
                    # re-list and retry from the newest checkpoint
                    restart = True
                    break
                entry = self._read_entry(v)
                if entry is None:
                    # slot vanished (quarantined/compacted) — the listing
                    # is stale; a valid successor can only exist after a
                    # re-list, so retry
                    restart = True
                    break
                if cache is not None and state is cache[0]:
                    state = state.copy()  # the cached state stays immutable
                state.apply(entry)
                state.version = v
                head_crc = _entry_crc(entry)
            if ckpts and ckpts[-1] > state.version:
                # compact() truncated the log past the cached head: the
                # newest checkpoint holds commits this replay lacks
                restart = True
            if not restart:
                if upto is None:
                    self._cache = (state, head_crc)
                return state
            self._cache = None  # cache may straddle the anomaly
        raise RuntimeError("manifest replay livelock: log churning")

    def _cache_valid(
        self, cache: tuple[_State, str | None], entries: list[int], ckpts: list[int]
    ) -> bool:
        """Re-verify the cached prefix's head slot before reusing it.

        The TOCTOU this closes: under the local emulation a torn entry
        can look complete to one reader (who caches it) while another
        reader observes the torn prefix and quarantines the slot; a new
        proposer then rewrites version N with a DIFFERENT entry.  An
        incremental replay that trusted the cache would extend the wrong
        version-N prefix.  One GET of the head slot per cached replay
        re-verifies the applied entry's crc; any mismatch (or a vanished
        slot not superseded by a checkpoint) drops the cache."""
        state, head_crc = cache
        version = state.version
        if version < 0 or head_crc is None:
            return True
        if version not in entries:
            # entry gone: fine only if a checkpoint at/after it covers it
            # (compaction); a bare disappearance means quarantine
            return any(c >= version for c in ckpts)
        entry = self._read_entry(version)
        return entry is not None and _entry_crc(entry) == head_crc

    def _maybe_checkpoint(self, state: _State) -> None:
        if state.version >= 0 and (state.version + 1) % self.checkpoint_every == 0:
            self.client.put_if_absent(
                self._ckpt_key(state.version), _encode_entry(state.snapshot())
            )

    def _commit(self, build) -> tuple[dict | None, _State]:
        """Optimistic-commit loop. ``build(state) -> actions | None``
        derives the transaction from the freshest replayed state — the
        SAME state the proposal slot is based on, so any per-job
        ``expect`` in the actions is exact and a won slot implies the
        entry applies at replay (no stale-precondition false wins).
        ``build`` returning None means the precondition no longer holds;
        the loop stops and returns (None, state). On a lost conditional
        write (or a fenced-out quarantine) it re-replays and retries.

        Returns (committed entry | None, state the decision was made on).
        """
        for _ in range(_MAX_RETRIES):
            state = self._replay()
            actions = build(state)
            if actions is None:
                return None, state
            entry = {
                "v": state.version + 1,
                "writer": self._writer_id,
                "ts": _now_micros(),
                "actions": actions,
            }
            # self-check: the entry must apply on the state it was built
            # from — guards builder bugs from ever burning a log slot
            probe = state.copy()
            if not probe.apply(entry):
                raise RuntimeError("commit builder produced an inapplicable entry")
            probe.version = state.version + 1
            if not self.client.put_if_absent(
                self._entry_key(probe.version), _encode_entry(entry)
            ):
                continue  # lost the slot — re-replay and retry
            fence = self._read_entry(probe.version)
            if fence is None or fence.get("writer") != self._writer_id:
                continue  # quarantined + reclaimed: we lost, retry
            self._cache = (probe, _entry_crc(fence))  # the next replay starts here
            self._maybe_checkpoint(probe)
            return entry, state
        raise RuntimeError(f"commit livelock after {_MAX_RETRIES} tries")

    def _cas_retry(
        self,
        job_id: str,
        from_status: tuple[int, ...] | None,
        **changes: Any,
    ) -> dict | None:
        """Optimistic-retry CAS, FileCASStore._cas_retry semantics: retry
        on commit conflicts, give up (None) when the precondition stops
        holding; the caller decides if that is IllegalTransition."""
        changes["updated_at"] = _now_micros()

        def build(state: _State) -> list[dict] | None:
            cur = state.jobs.get(job_id)
            if cur is None:
                return None
            if from_status is not None and cur["status"] not in from_status:
                return None
            return [
                {
                    "op": "cas",
                    "id": job_id,
                    "expect": cur["lock_version"],
                    "set": changes,
                }
            ]

        entry, state = self._commit(build)
        if entry is None:
            return None
        cur = state.jobs[job_id]
        nxt = dict(cur)
        nxt.update(changes)
        nxt["lock_version"] = cur["lock_version"] + 1
        return nxt

    # -- writes ------------------------------------------------------------

    def transact_graph(self, graph: JobGraph) -> JobGraph:
        graph.validate()
        now = _now_micros()
        rows = []
        for j in graph.jobs:
            r = j.to_row()
            r["created_at"] = now
            r["updated_at"] = now
            rows.append(r)
        action = {
            "op": "insert_graph",
            "rows": rows,
            "edges": [list(e) for e in sorted(graph.edges)],
        }

        def build(state: _State) -> list[dict] | None:
            if any(j.id in state.jobs for j in graph.jobs):
                return None  # idempotent all-or-nothing no-op
            return [action]

        self._commit(build)
        return graph

    def reserve_job(self, job_id: str) -> Job | None:
        """Single-shot CAS unstarted→started (jdbc.clj:190-195): returns
        None on a lost race or any non-unstarted state. Commit conflicts
        on *unrelated* log slots retry; once the job itself leaves
        unstarted, the race is lost."""
        changes = {
            "status": STATUS_STARTED,
            "heartbeat": int(time.time()),
            "updated_at": _now_micros(),
        }

        def build(state: _State) -> list[dict] | None:
            cur = state.jobs.get(job_id)
            if cur is None or cur["status"] != STATUS_UNSTARTED:
                return None  # lost the race (or never reservable)
            return [
                {
                    "op": "cas",
                    "id": job_id,
                    "expect": cur["lock_version"],
                    "set": changes,
                }
            ]

        entry, state = self._commit(build)
        if entry is None:
            return None
        nxt = dict(state.jobs[job_id])
        nxt.update(changes)
        nxt["lock_version"] = state.jobs[job_id]["lock_version"] + 1
        return self._to_job(nxt)

    def finish_job(self, job_id: str) -> None:
        if self._cas_retry(job_id, (STATUS_STARTED,), status=STATUS_FINISHED) is None:
            raise IllegalTransition(f"finish_job: {job_id} not in started state")

    def fail_job(self, job_id: str, failure: Mapping[str, Any] | None = None) -> None:
        encoded = (
            json.dumps(failure, sort_keys=True, default=str)
            if failure is not None
            else None
        )
        if (
            self._cas_retry(
                job_id, (STATUS_STARTED,), status=STATUS_FAILED, failure=encoded
            )
            is None
        ):
            raise IllegalTransition(f"fail_job: {job_id} not in started state")

    def reset_job(self, job_id: str) -> Job | None:
        out = self._cas_retry(
            job_id,
            (STATUS_STARTED,),
            status=STATUS_UNSTARTED,
            heartbeat=int(time.time()),
        )
        return self._to_job(out) if out is not None else None

    def heartbeat_job(self, job_id: str) -> None:
        self._cas_retry(job_id, None, heartbeat=int(time.time()))

    def abort_job(self, job_id: str) -> None:
        for jid in sorted({job_id} | self.dependents(job_id)):
            self._cas_retry(jid, None, status=STATUS_ABORTED)

    # -- reads -------------------------------------------------------------

    @staticmethod
    def _to_job(p: Mapping[str, Any]) -> Job:
        return Job(
            id=p["id"],
            type=p["type"],
            args=json.loads(p["args"]) if p["args"] else None,
            status=p["status"],
            failure=json.loads(p["failure"]) if p["failure"] else None,
            heartbeat=p["heartbeat"],
            lock_version=p["lock_version"],
        )

    def current_version(self) -> int:
        """Last committed log version (-1 on an empty store) — the
        handle for as-of reads, like SparkLogStore.current_seq()."""
        return self._replay().version

    def job_info(self, job_id: str) -> Job | None:
        cur = self._replay().jobs.get(job_id)
        return self._to_job(cur) if cur is not None else None

    def jobs_with_status(self, status: int) -> list[str]:
        return sorted(
            p["id"] for p in self._replay().jobs.values() if p["status"] == status
        )

    def jobs_df(self, as_of_version: int | None = None) -> DataFrame:
        """State as a DataFrame (JOBS_SCHEMA) — replayed snapshot
        parallelized from the driver, as a JDBC scan of the reference's
        job table would be (metadata scale by design). ``as_of_version``
        time-travels to that log version (Delta-style VERSION AS OF);
        None reads the head."""
        assert self.spark is not None, "jobs_df requires a SparkSession"
        import datetime as _dt

        def _ts(us):
            if us is None:
                return None
            return _dt.datetime.fromtimestamp(us / 1e6, tz=_dt.timezone.utc).replace(
                tzinfo=None
            )

        rows = []
        for p in self._replay(upto=as_of_version).jobs.values():
            r = dict(p)
            r["created_at"] = _ts(r.get("created_at"))
            r["updated_at"] = _ts(r.get("updated_at"))
            rows.append(r)
        return self.spark.createDataFrame(rows, schema=JOBS_SCHEMA)

    def deps_df(self) -> DataFrame:
        assert self.spark is not None, "deps_df requires a SparkSession"
        rows = [{"job_id": a, "dep_id": b} for a, b in self._replay().edges]
        return self.spark.createDataFrame(rows, schema=DEPENDENCIES_SCHEMA)

    def jobs_ready(
        self, limit: int | None = None, types: AbstractSet[str] | None = None
    ) -> list[str]:
        if self.spark is not None:
            from overseer_spark.operators.scheduling import ready_jobs

            df = ready_jobs(self.jobs_df(), self.deps_df(), limit, types)
            return sorted(r["id"] for r in df.collect())
        state = self._replay()
        unfinished = {
            i for i, p in state.jobs.items() if p["status"] != STATUS_FINISHED
        }
        blocked = {a for a, b in state.edges if b in unfinished}
        ready = sorted(
            i
            for i, p in state.jobs.items()
            if p["status"] == STATUS_UNSTARTED
            and i not in blocked
            and (types is None or p["type"] in types)
        )
        return ready[:limit] if limit else ready

    def jobs_dead(self, threshold: int, limit: int | None = None) -> list[str]:
        if self.spark is not None:
            from overseer_spark.operators.scheduling import dead_jobs

            df = dead_jobs(self.jobs_df(), threshold, limit)
            return sorted(r["id"] for r in df.collect())
        dead = sorted(
            i
            for i, p in self._replay().jobs.items()
            if p["status"] == STATUS_STARTED
            and p["heartbeat"] is not None
            and p["heartbeat"] < threshold
        )
        return dead[:limit] if limit else dead

    def dependents(self, job_id: str) -> set[str]:
        if self.spark is not None:
            from overseer_spark.operators.scheduling import transitive_dependents

            df = transitive_dependents(self.deps_df(), [job_id])
            return {r["id"] for r in df.collect()}
        edges = self._replay().edges
        out: set[str] = set()
        frontier = {job_id}
        while frontier:
            nxt = {a for a, b in edges if b in frontier and a not in out}
            out |= nxt
            frontier = nxt
        return out

    # -- maintenance -------------------------------------------------------

    def compact(self) -> None:
        """Checkpoint the current state, then delete log entries (and
        older checkpoints) the new checkpoint supersedes. Concurrent
        readers that listed before the delete re-list and restart from
        the newest checkpoint (see _replay)."""
        state = self._replay()
        if state.version < 0:
            return
        self.client.put_if_absent(
            self._ckpt_key(state.version), _encode_entry(state.snapshot())
        )
        entries, ckpts = self._scan_log()
        newest = max(ckpts)
        for v in entries:
            if v <= newest:
                self.client.delete(self._entry_key(v))
        for v in ckpts:
            if v < newest:
                self.client.delete(self._ckpt_key(v))
