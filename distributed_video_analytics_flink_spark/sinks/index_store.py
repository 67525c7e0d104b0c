"""The two store primitives the at-rest IVF+PQ index lifecycle needs —
PUBLISH (atomically expose a fully-written version) and LIST (the
file-set snapshot behind compaction's fences) — extracted behind one
seam, with both production shapes implemented:

- :class:`PosixRenameStore` — POSIX/HDFS: atomic single-directory
  ``rename`` is the publish primitive (the Hive/Iceberg-v1 commit
  posture). This is byte-for-byte the behavior the lifecycle had before
  the seam existed, and the default.
- :class:`ManifestPointerStore` — object stores (S3): there is NO atomic
  directory rename, so a version is written under an immutable
  versioned prefix and published by atomically writing ONE small
  pointer object naming it (the Iceberg/Delta commit pattern). Locally
  the atomic conditional PUT is emulated with ``os.link`` of a
  fully-written pointer file — link is create-if-absent WITH full
  content, so a reader can never observe an empty or half-written
  pointer; on S3 this maps to a conditional PUT (If-None-Match) of the
  pointer object. No directory is ever renamed.

The lifecycle *semantics* (snapshot-first fencing, tombstone-at-serve,
quarantine-not-delete, race-loser validation) live in
``operators/similarity.py`` and are primitive-agnostic — they call only
this interface, so the fence tests run parameterized over both stores
(tests/test_index_store.py). The data plane is already store-agnostic:
codes and tombstones are plain partitioned parquet through Spark.

Reference provenance: the reference persists results through Cassandra
and never versions an index (DataCassandraSink.java); the lifecycle this
seam serves is the engine's LLM-pipeline extension (SCALE.md, "Index
sidecar IO assumes a rename-capable store")."""

from __future__ import annotations

import os
import shutil
import threading
import time


DEFAULT_GRACE_S = 86400.0  # gc's reader grace: older trees are collectable


def _mtime_or_zero(path: str) -> float:
    """Sort key that tolerates a concurrent deleter: a path vanishing
    between listing and stat sorts oldest instead of crashing the
    sweep."""
    try:
        return os.stat(path).st_mtime
    except OSError:
        return 0.0


def _expired(path: str, grace_s: float, now: float) -> bool:
    """True when EVERY mtime in ``path``'s tree is older than the grace
    window — so an in-progress build (fresh task files under a stale
    root) and a just-superseded version (root stamped at retraction) are
    both protected. The top directory's mtime alone is NOT the
    artifact's clock: an in-progress Spark build lands task files under
    ``_temporary/`` subdirectories without touching the staging root,
    and a version's serving life is stamped on the root at supersede
    time. A path that cannot be stat'ed (concurrently removed) is NOT
    expired — the caller skips it rather than racing a second deleter.

    Cost: the walk short-circuits at the FIRST fresh mtime (the common
    case — live-ish candidates prove freshness on their root or first
    task file), so only candidates that are actually collectable pay a
    full O(files) scan, exactly once, on the sweep that removes them."""
    try:
        if (now - os.stat(path).st_mtime) <= grace_s:
            return False
    except OSError:
        return False
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                t = os.stat(os.path.join(root, name)).st_mtime
            except OSError:
                continue  # concurrently removed entry: skip
            if (now - t) <= grace_s:
                return False
    return True


def _writer_pid(name: str, prefix: str) -> int | None:
    """Writer pid embedded in a staged-artifact name by ``stage()``
    (``{base}.build-{pid}-{tid}`` / ``v-{pid}-{tid}-{hex}``), or None
    when the name doesn't parse (foreign file: fall back to the grace
    fence alone)."""
    tail = name[len(prefix):]
    head = tail.split("-", 1)[0]
    return int(head) if head.isdigit() else None


def _foreign_writer_alive(pid: int | None) -> bool:
    """Best-effort live-writer fence for SAME-HOST, OTHER-PROCESS staged
    artifacts: a builder that is alive but write-silent (a long compute
    phase between task files) must not lose its staging dir to a
    concurrent gc() in another process. Own-pid candidates return False
    — within one process the name cannot distinguish a live quiescent
    thread from a crash-orphan of a previous run with a recycled name,
    so same-process (and, on object stores, cross-host) writers are
    protected only by sizing ``grace_s`` above the longest write-silent
    build phase (documented on both gc() methods). Pid recycling makes
    this fence conservative: a candidate whose pid was reused by an
    unrelated process is retained until that process exits."""
    if pid is None or pid == os.getpid():
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM: exists but not ours — conservative: alive
    return True


def _remove_tree(path: str, removed: list[str]) -> None:
    """Best-effort rmtree that only REPORTS paths that are actually gone
    (a read-only straggler must not be double-counted as reclaimed by
    every subsequent sweep)."""
    shutil.rmtree(path, ignore_errors=True)
    if not os.path.exists(path):
        removed.append(path)


class PublishConflict(Exception):
    """The serving name is already published (another process won the
    publish race). The caller decides whether the existing version is
    acceptable — the build's race-loser path validates and adopts it."""


class PosixRenameStore:
    """Publish = atomic directory rename; list = os.walk. Correct on
    POSIX filesystems and HDFS, where single-directory rename is atomic
    and fails when the destination exists."""

    def stage(self, serving: str) -> str:
        """A sibling staging directory for a new version. The writer
        creates it (Spark's parquet write does); publish() renames it
        onto the serving name."""
        return f"{serving}.build-{os.getpid()}-{threading.get_ident()}"

    def publish(self, staged: str, serving: str) -> None:
        try:
            os.rename(staged, serving)
        except OSError as exc:
            raise PublishConflict(str(exc)) from exc

    def resolve(self, serving: str) -> str | None:
        """Physical directory of the live version (the serving name
        itself here), or None if nothing is published."""
        return serving if os.path.isdir(serving) else None

    def list_files(self, serving: str) -> frozenset:
        """Every .parquet under the live version — data AND tombstone
        sidecars — as the fence's snapshot unit."""
        live = self.resolve(serving)
        out = []
        if live is not None:
            for root, _dirs, files in os.walk(live):
                for f in files:
                    if f.endswith(".parquet"):
                        out.append(os.path.join(root, f))
        return frozenset(out)

    def quarantine(self, serving: str) -> str:
        """Unpublish PRESERVING bytes: move the directory to a fresh
        quarantine path (mkdtemp guarantees an empty target even on
        repeated fence failures from the same thread). A reader that
        already resolved keeps valid open handles — rename only moves
        the directory entry. Returns where the copy is preserved; if
        even the rename fails, the copy stays in place and its own path
        is returned."""
        import tempfile

        try:
            qroot = tempfile.mkdtemp(
                prefix=os.path.basename(serving) + ".quarantine-",
                dir=os.path.dirname(serving) or ".",
            )
            quarantine = os.path.join(qroot, "index")
            try:
                os.rename(serving, quarantine)
            except OSError:
                os.rmdir(qroot)  # don't leak the unused empty quarantine
                raise
        except OSError:
            return serving  # rename failed: left in place
        return quarantine

    def discard_staged(self, staged: str) -> None:
        shutil.rmtree(staged, ignore_errors=True)

    def gc(
        self, serving: str, keep_versions: int = 2, grace_s: float = DEFAULT_GRACE_S
    ) -> list[str]:
        """Bounded retention for the leftovers this store accumulates
        (r11 VERDICT #4): quarantine roots (``{base}.quarantine-*`` — the
        preserved bytes of failed fences) and crash-orphaned staging dirs
        (``{base}.build-*``) older than ``grace_s``. The LIVE serving
        directory is never a candidate (distinct name). The grace window
        is the reader fence: a reader that resolved before GC holds a
        path whose mtime is at most its resolve-age old, so sizing
        grace_s above the longest scan (the Iceberg expire-snapshots /
        S3 lifecycle posture) means GC never deletes under a scan. The
        newest ``keep_versions`` quarantine roots survive regardless of
        age (post-mortem material).

        Writer fence: the grace window is ALSO the writer fence — a
        live builder that writes no files for longer than ``grace_s``
        (a long compute phase) looks exactly like a crash orphan, so
        grace_s must exceed the longest write-silent build phase. As a
        best-effort extra fence, ``.build-{pid}-*`` candidates whose
        embedded pid belongs to a live OTHER process on this host are
        skipped outright (same-process writers can't be told apart from
        recycled names and rely on grace_s alone). Returns the removed
        paths."""
        now = time.time()
        parent = os.path.dirname(serving) or "."
        base = os.path.basename(serving)
        try:
            entries = os.listdir(parent)
        except OSError:
            return []
        quarantines = sorted(
            (
                os.path.join(parent, e)
                for e in entries
                if e.startswith(base + ".quarantine-")
            ),
            key=lambda p: -_mtime_or_zero(p),
        )
        removed: list[str] = []
        for q in quarantines[keep_versions:]:
            if _expired(q, grace_s, now):
                _remove_tree(q, removed)
        for e in entries:
            if e.startswith(base + ".build-"):
                if _foreign_writer_alive(_writer_pid(e, base + ".build-")):
                    continue  # live other-process builder, just quiescent
                stale = os.path.join(parent, e)
                if _expired(stale, grace_s, now):
                    _remove_tree(stale, removed)
        return removed


class ManifestPointerStore:
    """Publish = atomic create-if-absent write of ONE small pointer
    object naming an immutable versioned prefix; list = LIST against the
    resolved prefix. The object-store commit pattern: data objects are
    written once under ``{serving}.versions/<token>/`` and never moved —
    only the pointer changes hands. A crash before the pointer write
    leaves the serving name unpublished (readers resolve to None/the old
    version, never to a half-written prefix)."""

    def _pointer(self, serving: str) -> str:
        return f"{serving}.ptr"

    def stage(self, serving: str) -> str:
        """A fresh immutable version prefix. The token is
        process-unique + random so concurrent builders never collide;
        the prefix is write-once by contract (appends to a LIVE version
        land inside its prefix, which object stores allow — objects are
        immutable, prefixes are not)."""
        token = f"v-{os.getpid()}-{threading.get_ident()}-{os.urandom(4).hex()}"
        root = f"{serving}.versions"
        os.makedirs(root, exist_ok=True)
        return os.path.join(root, token)

    def publish(self, staged: str, serving: str) -> None:
        """Atomic conditional PUT of the pointer: the content is fully
        written to a scratch object first, then linked to the pointer
        name — link fails with EEXIST if already published (the publish
        race) and a reader can never see a partial pointer."""
        import errno

        # Publish sentinel: marks the prefix as having left the writer's
        # hands, so gc()'s live-writer pid fence (which protects
        # in-progress builds) stops applying and retention of superseded
        # versions stays bounded even under a long-lived publisher
        # process. Underscore-prefixed => invisible to Spark's scans.
        try:
            with open(os.path.join(staged, "_PUBLISHED"), "w") as fh:
                fh.write("1")
        except OSError:
            pass  # fence degrades to grace-only for this prefix
        ptr = self._pointer(serving)
        tmp = f"{ptr}.put-{os.getpid()}-{threading.get_ident()}"
        with open(tmp, "w") as fh:
            fh.write(os.path.abspath(staged))
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, ptr)
        except OSError as exc:
            if exc.errno == errno.EEXIST:  # lost the race: pointer taken
                raise PublishConflict(str(exc)) from exc
            raise  # anything else is a real IO failure, not a lost race
        finally:
            os.unlink(tmp)

    def resolve(self, serving: str) -> str | None:
        try:
            with open(self._pointer(serving)) as fh:
                live = fh.read().strip()
        except OSError:
            return None
        return live if os.path.isdir(live) else None

    def list_files(self, serving: str) -> frozenset:
        live = self.resolve(serving)
        out = []
        if live is not None:
            for root, _dirs, files in os.walk(live):
                for f in files:
                    if f.endswith(".parquet"):
                        out.append(os.path.join(root, f))
        return frozenset(out)

    def quarantine(self, serving: str) -> str:
        """Unpublish by deleting the POINTER (one small-object DELETE —
        atomic everywhere); the version prefix is untouched, so a reader
        mid-scan and the operator's post-mortem both keep the bytes.
        The prefix root is STAMPED with the retraction time: gc()'s
        reader grace window must run from when the version STOPPED
        serving, not from when it was built — a version that served for
        days would otherwise be collectable the instant it is superseded,
        exactly while its last readers are still scanning. Returns the
        preserved prefix."""
        live = self.resolve(serving)
        try:
            os.unlink(self._pointer(serving))
        except OSError:
            return serving  # pointer already gone / undeletable
        if live is not None:
            try:
                os.utime(live, None)  # supersede stamp (gc grace clock)
            except OSError:
                pass  # prefix raced away: nothing left to protect
        return live if live is not None else serving

    def discard_staged(self, staged: str) -> None:
        shutil.rmtree(staged, ignore_errors=True)

    def gc(
        self, serving: str, keep_versions: int = 2, grace_s: float = DEFAULT_GRACE_S
    ) -> list[str]:
        """Bounded retention for the version prefixes this store
        accumulates forever by design (immutable prefixes under
        ``{serving}.versions/`` — superseded, quarantined, race-loser,
        and crash-orphaned builds) plus crash-orphaned pointer scratch
        objects (``{serving}.ptr.put-*``), r11 VERDICT #4.

        Deletion fences, all three required:
        - the prefix the pointer CURRENTLY resolves to is never removed,
          however old (resolve() is re-read here, not cached);
        - the newest ``keep_versions`` non-live prefixes survive
          regardless of age (Iceberg's retain-last posture: rollback and
          post-mortem material);
        - everything else must also be younger-silent for ``grace_s``:
          a prefix expires only when its NEWEST tree mtime is older than
          the window. Two clocks feed that maximum — quarantine() stamps
          the prefix root at RETRACTION time (the grace runs from when a
          version stopped serving, never from when it was built), and an
          in-progress build's task files keep refreshing their own
          mtimes (so a long build staged under ``.versions/`` cannot be
          swept mid-write). A reader resolves the pointer then scans;
          any prefix it can have resolved was live at that moment, and
          after the supersede its stamp keeps it for grace_s more.
          Sizing grace_s above the longest scan bounds the race exactly
          the way S3 lifecycle rules and Iceberg expire_snapshots do —
          there is no rename-free store primitive that can do better
          without a reader registry.

        The grace window is ALSO the writer fence: grace_s must exceed
        the longest write-silent build phase, or a live-but-quiescent
        builder's unpublished prefix is collectable. Locally,
        NEVER-PUBLISHED ``v-{pid}-*`` prefixes (no ``_PUBLISHED``
        sentinel — publish() stamps one) whose pid is a live OTHER
        process are skipped as an extra fence; published-then-superseded
        prefixes are past the writer's hands, so only the reader grace
        applies to them (retention stays bounded under a long-lived
        publisher). On a real object store pids are meaningless across
        hosts, so grace_s sizing is the only writer protection there.

        Returns the removed paths."""
        now = time.time()
        removed = []
        live = self.resolve(serving)
        root = f"{serving}.versions"
        try:
            entries = [os.path.join(root, e) for e in os.listdir(root)]
        except OSError:
            entries = []
        candidates = sorted(
            (
                p
                for p in entries
                if os.path.abspath(p) != (os.path.abspath(live) if live else None)
            ),
            key=lambda p: -_mtime_or_zero(p),
        )
        for p in candidates[keep_versions:]:
            if not os.path.exists(
                os.path.join(p, "_PUBLISHED")
            ) and _foreign_writer_alive(_writer_pid(os.path.basename(p), "v-")):
                continue  # live other-process builder, just quiescent
            if _expired(p, grace_s, now):
                _remove_tree(p, removed)
        parent = os.path.dirname(serving) or "."
        scratch_prefix = os.path.basename(self._pointer(serving)) + ".put-"
        try:
            siblings = os.listdir(parent)
        except OSError:
            siblings = []
        for e in siblings:
            if e.startswith(scratch_prefix):
                stale = os.path.join(parent, e)
                if _expired(stale, grace_s, now):
                    try:
                        os.unlink(stale)
                        removed.append(stale)
                    except OSError:
                        pass  # concurrently removed: fine
        return removed


# The default store for every lifecycle entry point: local disk and HDFS
# have atomic rename, and the test/bench environment is local disk.
DEFAULT_INDEX_STORE = PosixRenameStore()
