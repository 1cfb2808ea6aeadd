"""Rename-free versioned storage for incremental dedup indexes (r9).

Why this exists: `compact_index` used to merge base+delta into a
scratch dir, **rmtree the old base, then rename scratch into place** —
two defects in one swap. (1) Not crash-safe: a crash between the
rmtree and the rename left the merged data only in the scratch dir,
and the next run deleted that dir unconditionally as a "stale crash
leftover" — silently losing the entire index.
(2) Rename-based: object stores have no atomic directory rename, so
the lifecycle of an index for a 100-TB corpus ended at the container
wall.

The fix is the standard log-structured pointer protocol (the shape
Delta Lake / Iceberg publish, public knowledge — reimplemented here
minimally because a dedup index does not need snapshot isolation or
schema evolution, just crash-safe pointer swaps):

    index_root/
      _manifest/v0000000042.json   <- append-only commit log
      base_v0000000042/            <- immutable parquet snapshots
      base_v0000000041/            <- previous version (GC grace)
      delta/batch_id=N/            <- streaming appends (stream-owned)
      _owner_checkpoint/           <- stream claim marker

* A COMMIT is the creation of ONE new small manifest file — never a
  rename, never an overwrite, never a read-modify-write of a shared
  file. Every primitive used is: list, read object, put new object,
  delete object — all safe on strongly consistent object stores
  (S3 / GCS / ABFS) and on local filesystems.
* READERS list `_manifest/` and take the highest version whose JSON
  parses and whose embedded checksum matches; a torn file (crash
  mid-write on a local FS — object PUTs are atomic) fails the
  checksum and is skipped, falling back to the previous commit.
* A partially-written `base_v{N}` is NEVER referenced: the manifest
  points at it only after the write completed and was count-verified,
  and version numbers are never reused (the allocator scans existing
  dirs as well as commits), so a crashed writer's orphan dir can only
  ever be garbage, never data. Until the commit lands, ALL data
  remains readable in the previously committed base + the delta dirs
  — there is no instant at which the only copy lives in an
  uncommitted location, which is exactly the property the old
  scratch-and-rename swap violated.
* Re-runs are idempotent INCLUDING retirement: each commit records
  the delta `batch_id`s it folded in (`merged_batches`), so a crash
  after commit but before delta cleanup cannot re-merge those deltas
  into a later version — which would otherwise resurrect rows that a
  `retired=` pass had just removed.

Note on the parquet files themselves: Spark writes `base_v{N}` with
its configured output committer (cloud committers on object stores —
standard public practice). The index protocol does not depend on that
write being atomic; it only ever publishes a manifest AFTER verifying
the written snapshot, and unreferenced dirs are garbage by
construction.

SINGLE-WRITER CONTRACT (documented limit, not a silent hazard): one
compactor/publisher at a time per index root. Two concurrent writers
that both list before either commits can allocate the same version
number and interleave files under one snapshot prefix on stores
without atomic create-exclusive. This is the same ownership
discipline the streaming side already enforces with its
`_owner_checkpoint` marker (one long-lived checkpoint per root);
compaction runs while the stream is stopped. Readers are unlimited
and never coordinate — that is the point of the manifest.

Reference parity note: the reference engine has no persistent index
lifecycle at all (its dedup surface is in-memory columns); this module
is part of the beyond-reference 100-TB curation story
(`minhash_index` / `exact_index` / `incremental_dedup_stream`).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import posixpath
import re
import shutil

from pyspark.sql import DataFrame as SDF, SparkSession

_log = logging.getLogger("torcharrow_spark.indexstore")

MANIFEST_DIR = "_manifest"
BASE_PREFIX = "base_v"
_VERSION_DIGITS = 10
_MANIFEST_RE = re.compile(r"^v(\d{%d})\.json$" % _VERSION_DIGITS)
_BASE_RE = re.compile(r"^%s(\d{%d})$" % (BASE_PREFIX, _VERSION_DIGITS))

#: GC grace: how many superseded committed versions to keep readable
#: (readers resolving the previous manifest during a concurrent commit
#: must not have their base deleted under them).
DEFAULT_KEEP_VERSIONS = 1


# --------------------------------------------------------------------
# filesystem abstraction — the protocol uses ONLY these primitives
# (list / exists / read / create-only put / delete / size); there is
# deliberately no rename in the interface.
# --------------------------------------------------------------------


class _LocalFS:
    """POSIX paths. Used for plain local paths (no URI scheme)."""

    def list(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_text(self, path: str) -> str:
        with open(path, "r", encoding="utf-8") as f:
            return f.read()

    def put_text(self, path: str, text: str) -> None:
        """Create-only PUT: refuses to overwrite (commits are immutable)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "x", encoding="utf-8") as f:
            f.write(text)

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)

    def size(self, path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total


class _HadoopFS:
    """URI paths (s3a:// gs:// abfs:// hdfs:// file://), via the JVM
    Hadoop FileSystem already inside the Spark session — the same
    connectors the parquet scan uses, so any store Spark can read,
    the index protocol can commit to. Exercised in-container through
    ``file://`` URIs (same code path, local scheme)."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(path), self._conf
        )

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def list(self, path: str) -> list[str]:
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(p)
        )

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def read_text(self, path: str) -> str:
        # py4j copies byte[] arguments IN only — a read(buf) loop would
        # never see the bytes; drain JVM-side instead (commons-io is on
        # Spark's classpath).
        stream = self._fs.open(self._p(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def put_text(self, path: str, text: str) -> None:
        # create(path, overwrite=False) — create-only, like _LocalFS
        stream = self._fs.create(self._p(path), False)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()

    def delete(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def size(self, path: str) -> int:
        p = self._p(path)
        if not self._fs.exists(p):
            return 0
        return int(self._fs.getContentSummary(p).getLength())


def fs_for(path: str, spark: SparkSession | None = None):
    """Pick the FS implementation for a path: URI schemes go through
    the session's Hadoop connectors, bare paths through os/shutil."""
    if "://" in path:
        if spark is None:
            spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                f"URI index root {path!r} needs an active SparkSession "
                "(its Hadoop connectors do the I/O)"
            )
        return _HadoopFS(spark, path)
    return _LocalFS()


def _join(root: str, *parts: str) -> str:
    # URI and POSIX paths both join with '/'
    return posixpath.join(root, *parts)


# --------------------------------------------------------------------
# manifest protocol
# --------------------------------------------------------------------


def _checksum(payload: dict) -> str:
    body = json.dumps(
        {k: v for k, v in payload.items() if k != "checksum"},
        sort_keys=True,
        separators=(",", ":"),
    )
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


def _manifest_name(version: int) -> str:
    return f"v{version:0{_VERSION_DIGITS}d}.json"


def base_dir_name(version: int) -> str:
    return f"{BASE_PREFIX}{version:0{_VERSION_DIGITS}d}"


def committed_manifest(index_root: str, fs=None, spark=None) -> dict | None:
    """Highest VALID commit: parses as JSON and its embedded sha256
    matches. Torn/garbage files are skipped with a warning — a local
    crash mid-write must fall back to the previous commit, never
    corrupt the root."""
    fs = fs or fs_for(index_root, spark)
    mdir = _join(index_root, MANIFEST_DIR)
    names = [n for n in fs.list(mdir) if _MANIFEST_RE.match(n)]
    for name in sorted(names, reverse=True):
        try:
            payload = json.loads(fs.read_text(_join(mdir, name)))
            if payload.get("checksum") == _checksum(payload):
                return payload
            _log.warning("index manifest %s fails checksum; skipped", name)
        except (ValueError, OSError) as e:
            _log.warning("index manifest %s unreadable (%s); skipped", name, e)
    return None


def commit_manifest(index_root: str, payload: dict, fs=None, spark=None) -> dict:
    """Publish one commit: fill in the checksum and PUT the (create-
    only) manifest file. The put either fully lands or doesn't — on
    object stores by PUT atomicity, on local FS by the checksum guard
    in `committed_manifest`."""
    fs = fs or fs_for(index_root, spark)
    payload = dict(payload)
    payload["checksum"] = _checksum(payload)
    fs.put_text(
        _join(index_root, MANIFEST_DIR, _manifest_name(payload["version"])),
        json.dumps(payload, sort_keys=True, indent=1),
    )
    return payload


def _existing_versions(index_root: str, fs) -> set[int]:
    """Every version number in use: committed OR merely attempted
    (an orphan base dir from a crashed writer) — the allocator must
    never hand out a number twice, so a partial dir can never be
    mistaken for (or overwritten by) a real snapshot."""
    versions: set[int] = set()
    for n in fs.list(_join(index_root, MANIFEST_DIR)):
        m = _MANIFEST_RE.match(n)
        if m:
            versions.add(int(m.group(1)))
    for n in fs.list(index_root):
        m = _BASE_RE.match(n)
        if m:
            versions.add(int(m.group(1)))
    return versions


def next_version(index_root: str, fs=None, spark=None) -> int:
    fs = fs or fs_for(index_root, spark)
    existing = _existing_versions(index_root, fs)
    return (max(existing) + 1) if existing else 1


def resolve_index_base(
    index_root: str, spark=None, fs=None
) -> str | None:
    """The pointer resolution every reader goes through: the committed
    manifest's base dir, else the pre-r9 legacy ``{root}/base`` layout,
    else None (cold start)."""
    fs = fs or fs_for(index_root, spark)
    committed = committed_manifest(index_root, fs=fs)
    if committed is not None:
        return _join(index_root, committed["base"])
    legacy = _join(index_root, "base")
    return legacy if fs.exists(legacy) else None


def read_index(spark: SparkSession, index_root: str) -> SDF | None:
    """Manifest-resolved standing index (base snapshot only — streaming
    callers union the live deltas themselves, batch callers usually
    compact first). None on cold start."""
    base = resolve_index_base(index_root, spark=spark)
    return spark.read.parquet(base) if base is not None else None


def publish_index(
    df: SDF,
    index_root: str,
    spark: SparkSession | None = None,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Initial (or wholesale replacement) publish of an index snapshot
    under the pointer protocol: write ``base_v{V}``, verify, commit.
    The previous committed version (if any) stays readable until GC."""
    spark = spark or df.sparkSession
    fs = fs_for(index_root, spark)
    version = next_version(index_root, fs=fs)
    base_name = base_dir_name(version)
    base_path = _join(index_root, base_name)
    df.write.mode("error").parquet(base_path)
    rows = spark.read.parquet(base_path).count()
    manifest = commit_manifest(
        index_root,
        {
            "version": version,
            "base": base_name,
            "rows": rows,
            "merged_batches": [],
        },
        fs=fs,
    )
    _log.info("published index %s v%d (%d rows)", index_root, version, rows)
    return manifest


def index_status(index_root: str, spark=None, fs=None) -> dict:
    """Operator-facing snapshot of an index root's lifecycle state —
    what an on-call person asks before compacting or pointing a fresh
    stream at it: the committed version and its row count, how many
    base snapshots exist on disk (committed + grace + orphans), the
    pending delta batch ids (split into merged-but-not-yet-deleted vs
    genuinely new), and which checkpoint (if any) owns the root."""
    fs = fs or fs_for(index_root, spark)
    committed = committed_manifest(index_root, fs=fs)
    merged = set(committed.get("merged_batches", [])) if committed else set()
    deltas = sorted(
        int(n.split("=", 1)[1])
        for n in fs.list(_join(index_root, "delta"))
        if n.startswith("batch_id=")
    )
    bases = sorted(
        int(m.group(1))
        for m in (_BASE_RE.match(n) for n in fs.list(index_root))
        if m
    )
    owner = None
    marker = _join(index_root, "_owner_checkpoint")
    if fs.exists(marker):
        for n in fs.list(marker):
            if n.startswith("part-"):
                owner = fs.read_text(_join(marker, n)).strip()
                break
    legacy = fs.exists(_join(index_root, "base"))
    return {
        "version": committed["version"] if committed else None,
        "rows": committed.get("rows") if committed else None,
        "base_versions_on_disk": bases,
        "legacy_base": legacy,
        "delta_batches_new": [b for b in deltas if b not in merged],
        "delta_batches_merged_pending_cleanup": [
            b for b in deltas if b in merged
        ],
        "owner_checkpoint": owner,
    }


def gc_index_versions(
    index_root: str,
    spark=None,
    fs=None,
    keep: int = DEFAULT_KEEP_VERSIONS,
) -> dict:
    """Best-effort space reclaim, safe by construction:

    * committed versions OLDER than (current - ``keep``) are deleted —
      the grace window keeps a reader that resolved the previous
      manifest just before a commit from having its base deleted
      mid-scan;
    * ORPHAN base dirs BELOW the committed version (a crashed writer's
      partial snapshot, superseded by a later successful commit) are
      deleted — they were never referenced by any manifest;
    * orphans ABOVE the committed version are left alone: they may be
      a concurrent compaction mid-write.

    Failures are swallowed per-path (it's GC — the next run retries);
    correctness never depends on deletion happening."""
    fs = fs or fs_for(index_root, spark)
    committed = committed_manifest(index_root, fs=fs)
    if committed is None:
        return {"deleted": []}
    current = committed["version"]
    deleted = []
    for n in fs.list(index_root):
        m = _BASE_RE.match(n)
        if not m:
            continue
        v = int(m.group(1))
        if v == current or v > current:
            continue
        committed_versions = {
            int(_MANIFEST_RE.match(x).group(1))
            for x in fs.list(_join(index_root, MANIFEST_DIR))
            if _MANIFEST_RE.match(x)
        }
        is_orphan = v not in committed_versions
        if is_orphan or v < current - keep:
            try:
                fs.delete(_join(index_root, n))
                deleted.append(n)
            except Exception as e:  # noqa: BLE001 — best-effort GC
                _log.warning("index GC could not delete %s: %s", n, e)
    return {"deleted": deleted}
