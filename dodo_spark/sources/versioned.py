"""Versioned parquet tables: ``FOR VERSION AS OF`` and ``FOR TIME AS OF``
over plain parquet (SURVEY.md §2.A A25; reference grammar
``tableSnapshot``, both alternatives, ``DorisParser.g4:1752-1756``).
Commits record their timestamp in the manifest; ``read_as_of`` resolves
the newest version committed at or before the requested time.

Delta/Iceberg are not available in this environment, so time travel is
built from the same primitive those formats use underneath: IMMUTABLE
data files plus per-version FILE MANIFESTS (add/remove lists — the Delta
commit-log / Iceberg snapshot-manifest structure). Each commit writes its
new parquet files under a UNIQUE per-attempt staging dir
``v=<n>/w-<uuid>/``, then PUT-IF-ABSENT publishes a
``_manifest_<n>.json`` naming the files it ADDS and the live files it
REMOVES. **The manifest file IS the commit record and the SOLE source of
truth**: ``list_versions`` is derived from the set of committed manifest
files, so there is no secondary log to append to — and therefore no
read-modify-write race between writers committing distinct versions
(each writer publishes exactly one new immutable file; nothing is ever
re-written). Staging files without a manifest entry are by definition
orphans from crashed or race-losing writers — invisible to every reader
(reads open only manifest-listed files) and reclaimed by ``vacuum``'s
orphan sweep. Because attempts never share a directory, a zombie
duplicate writer can never delete or overwrite a committed attempt's
data files. Put-if-absent is atomic-with-complete-content on local POSIX
(``_LocalFS``: link(2)) and HDFS (``_HadoopFS``: FileContext rename with
``Options.Rename.NONE``, atomic at the namenode); on backends without an
atomic no-overwrite rename (``file://`` RawLocalFileSystem, S3A) the
contract is still fail-if-exists but the loser detection is
check-then-act — see the S3 caveat below for the conditional-PUT fix. A
visible manifest is always a complete commit — no roll-forward step
exists or is needed.

A version's live file set is the add/remove algebra replayed over
committed manifests; ``read_version`` hands that file list straight to
``spark.read.parquet`` so every Catalyst optimization (pushdown, pruning,
split planning) applies unchanged, and no state is shared between
versions — concurrent readers of different versions never interfere.

Because commits are file-level, ``append_version`` commits new rows
WITHOUT rewriting (or even reading) the files of prior versions — the
100 TB posture: a 1 % daily append costs 1 % I/O, not a table copy.
``write_version`` keeps full-replace semantics (its manifest removes all
previously-live files), and the API is still shaped so ``read_version``
swaps to ``spark.read.format("delta").option("versionAsOf", n)`` without
touching call sites.

Filesystem abstraction
----------------------
All metadata IO (manifests, checkpoints, vacuum markers, data-file
listing/deletion) goes through a small FS shim chosen by the table
path's scheme:

- plain paths -> ``_LocalFS`` (POSIX: put-if-absent via ``os.link`` of a
  complete temp file — atomic, fails if the target exists);
- any URI (``hdfs://``, ``file://``, ``s3a://`` ...) -> ``_HadoopFS``
  (the live SparkSession's Hadoop ``FileSystem`` via ``spark._jvm``:
  put-if-absent = write a complete temp file, then rename onto the
  target via ``FileContext.rename(..., Options.Rename.NONE)`` — the
  fail-if-destination-exists contract on every AbstractFileSystem,
  atomic at the HDFS namenode (the Delta HDFSLogStore protocol)).

- ``s3://`` / ``s3a://`` / ``s3n://`` -> ``_S3FS`` when an S3 client is
  reachable (installed via ``set_s3_client_factory`` or importable
  boto3): put-if-absent is a true CONDITIONAL PUT — ``PutObject`` with
  ``If-None-Match: *`` (supported natively by S3 since Nov 2024; same
  header on MinIO/GCS XML) — so the store itself rejects the losing
  committer with HTTP 412. 409 ``ConditionalRequestConflict`` (another
  conditional write in flight) is retried bounded. Without a client the
  path falls back to ``_HadoopFS`` (S3A rename: put-if-absent degrades
  to check-then-act — the pre-2024 posture; a DynamoDB conditional
  write à la S3DynamoDBLogStore would be the alternative there). The
  rest of the commit algebra is backend-agnostic and model-tested over
  all three shims (tests/test_versioned.py). Listing is safe on modern
  S3 (strongly consistent since 2020). Parquet footer-stats harvesting
  degrades gracefully off the local FS (files without recorded stats
  simply stay merge/delete probe candidates).
"""

from __future__ import annotations

import copy
import json
import os
import re
import tempfile
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_PREFIX = "_manifest_"
_CHECKPOINT_PREFIX = "_checkpoint_"
_VACUUM_PREFIX = "_vacuum_"
# presence hint published by every METADATA-ONLY SCHEMA-CHANGE commit
# (rename_column / drop_column / retype_column) BEFORE its manifest: lets
# every reader decide "no schema events at all" from the directory listing
# it already fetched (zero extra reads on the 99% event-free table) and
# scan ONLY the hinted manifests otherwise. Publish-before-commit means a
# crashed schema change leaves a hint pointing at a missing/foreign
# manifest — a harmless false positive the reader skips — never a
# committed event without a hint (which would silently drop the chain).
# The hint is PART OF the commit protocol from each feature's first
# release (event and hint shipped together); an event manifest without
# its hint is not a supported on-disk state. The on-disk name keeps the
# r9 "_rename_hint_" spelling for compatibility with tables written
# before drop/retype existed.
_RENAME_HINT_PREFIX = "_rename_hint_"


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic concurrency)."""


# --------------------------------------------------------------------------
# filesystem shim
# --------------------------------------------------------------------------
class _LocalFS:
    """POSIX-local metadata IO. Put-if-absent: write a COMPLETE temp file,
    then hard-link into place — link(2) is atomic and fails with EEXIST if
    the target exists, so a visible file always has complete content."""

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def put_if_absent_text(self, path: str, text: str) -> bool:
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            dir=d, prefix=os.path.basename(path), suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w") as f:
                f.write(text)
            try:
                os.link(tmp, path)
                return True
            except FileExistsError:
                return False
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def delete(self, path: str) -> bool:
        try:
            os.unlink(path)
            return True
        except FileNotFoundError:
            return False

    def copy(self, src: str, dst: str) -> None:
        import shutil

        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)

    def list_names(self, dir_path: str) -> list[str]:
        try:
            return sorted(os.listdir(dir_path))
        except FileNotFoundError:
            return []

    def list_files_recursive(self, dir_path: str) -> list[str]:
        """All regular files under ``dir_path``, as sorted '/'-joined
        paths relative to it."""
        out = []
        for root, _dirs, names in os.walk(dir_path):
            rel = os.path.relpath(root, dir_path)
            for n in names:
                out.append(n if rel == "." else f"{rel}/{n}".replace(os.sep, "/"))
        return sorted(out)


class _HadoopFS:
    """Metadata IO over Hadoop ``FileSystem`` via the Spark JVM gateway —
    the distributed-filesystem path (HDFS, and any scheme the cluster's
    Hadoop conf knows). Put-if-absent: write a complete ``.tmp`` sibling,
    close it, then rename with the no-overwrite contract
    (``_rename_no_overwrite``): FileContext + ``Options.Rename.NONE``
    fails if the target exists on every AbstractFileSystem and is atomic
    at the HDFS namenode (the Delta HDFSLogStore protocol). On schemes
    where FileContext is unavailable the fallback is exists-check +
    ``FileSystem.rename`` — correct single-writer semantics, but not
    atomic under a same-path race on FileSystems whose rename overwrites
    (``file://`` RawLocalFileSystem, S3A; S3A's real fix is a
    conditional PUT — module docstring)."""

    def __init__(self, spark: SparkSession, base_uri: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._gateway = spark.sparkContext._gateway
        conf = spark._jsc.hadoopConfiguration()
        uri = jvm.java.net.URI.create(base_uri)
        self._fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def read_text(self, path: str) -> str:
        stm = self._fs.open(self._p(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stm, "UTF-8"
            )
        finally:
            stm.close()

    def put_if_absent_text(self, path: str, text: str) -> bool:
        import uuid

        target = self._p(path)
        if self._fs.exists(target):
            return False
        # unique tmp per writer: a shared name would let racing writers
        # clobber each other's pending content before the rename
        tmp = self._p(f"{path}.{uuid.uuid4().hex}.tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        try:
            return self._rename_no_overwrite(tmp, target)
        finally:
            try:
                if self._fs.exists(tmp):
                    self._fs.delete(tmp, False)
            except Exception:
                pass

    def _rename_no_overwrite(self, tmp, target) -> bool:
        """Rename that FAILS (returns False) when the destination exists.
        Preferred path: ``FileContext.rename(..., Options.Rename.NONE)``,
        whose contract is fail-if-exists on every AbstractFileSystem and
        atomic at the HDFS namenode. Plain ``FileSystem.rename`` is the
        fallback — also dest-exists-fails on HDFS, but OVERWRITES on
        RawLocalFileSystem/S3A, where only the earlier exists() pre-check
        guards (not atomic under a same-version race; see the module
        docstring's per-backend guarantees)."""
        try:
            jvm = self._jvm
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._fs.getUri(), self._fs.getConf()
            )
            opts = self._gateway.new_array(
                jvm.org.apache.hadoop.fs.Options.Rename, 1
            )
            opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
        except Exception:
            # FileContext unavailable for this scheme ONLY: FileSystem
            # rename — atomic dest-exists-fails on HDFS, weaker elsewhere.
            # Scoped to the handle acquisition: a rename-time error must
            # NOT fall through here (a transient namenode failure would
            # otherwise be retried via an overwrite-capable rename and
            # could misreport as a lost race, silently dropping a commit).
            return bool(self._fs.rename(tmp, target))
        try:
            fc.rename(tmp, target, opts)
            return True
        except Exception as e:
            if "AlreadyExists" in str(
                getattr(e, "java_exception", e)
            ) or "already exists" in str(e):
                return False
            raise  # genuine IO failure: surface it, never mask as a race

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def copy(self, src: str, dst: str) -> None:
        ok = self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs, self._p(src), self._fs, self._p(dst),
            False, self._fs.getConf(),
        )
        if not ok:
            raise IOError(f"copy failed: {src} -> {dst}")

    def delete(self, path: str) -> bool:
        return bool(self._fs.delete(self._p(path), False))

    def list_names(self, dir_path: str) -> list[str]:
        try:
            statuses = self._fs.listStatus(self._p(dir_path))
        except Exception:  # FileNotFoundException via py4j
            return []
        return sorted(s.getPath().getName() for s in statuses)

    def list_files_recursive(self, dir_path: str) -> list[str]:
        """All regular files under ``dir_path``, as sorted '/'-joined
        paths relative to it (``FileSystem.listFiles(recursive=true)`` —
        one namenode-side enumeration, no per-dir round trips)."""
        base = self._p(dir_path).toUri().getPath().rstrip("/")
        try:
            it = self._fs.listFiles(self._p(dir_path), True)
        except Exception:  # FileNotFoundException via py4j
            return []
        out = []
        while it.hasNext():
            p = it.next().getPath().toUri().getPath()
            if p.startswith(base + "/"):
                out.append(p[len(base) + 1:])
        return sorted(out)


class _S3FS:
    """Object-store metadata IO with a true compare-and-set commit:
    ``PutObject`` + ``If-None-Match: *`` — the conditional PUT S3 has
    supported natively since Nov 2024 (and MinIO/GCS XML expose the
    same header). This closes the S3 gap the module docstring names:
    unlike the rename-based ``_HadoopFS`` path (not atomic on S3A),
    the store itself rejects the losing writer with HTTP 412, so
    exactly one manifest for a version can ever exist.

    ``client`` is boto3-shaped (``put_object`` / ``get_object`` /
    ``head_object`` / ``delete_object`` / ``list_objects_v2`` with
    paginated ``ContinuationToken``); errors are classified by HTTP
    status so botocore's ``ClientError`` and any compatible fake both
    work. 409 (``ConditionalRequestConflict``: another conditional
    write on the same key is in flight) is retried a bounded number of
    times — the retry then either wins or sees the committed object as
    412, per the S3 conditional-write contract.

    Only METADATA flows through this shim; data files are parquet
    written by Spark's own S3A committer. Listing is safe: S3 has been
    strongly consistent since Dec 2020 (module docstring)."""

    _MAX_CONFLICT_RETRIES = 16

    def __init__(self, client, path_to_key):
        self._client = client
        self._to_key = path_to_key  # path -> (bucket, key)

    @staticmethod
    def _status(exc) -> int:
        """HTTP status from a botocore ClientError (or a fake shaped
        like one); 0 when the exception carries none."""
        resp = getattr(exc, "response", None)
        if isinstance(resp, dict):
            try:
                return int(resp["ResponseMetadata"]["HTTPStatusCode"])
            except (KeyError, TypeError, ValueError):
                return 0
        return 0

    def read_text(self, path: str) -> str:
        bucket, key = self._to_key(path)
        try:
            obj = self._client.get_object(Bucket=bucket, Key=key)
        except Exception as e:
            if self._status(e) == 404:
                raise FileNotFoundError(path) from e
            raise
        return obj["Body"].read().decode("utf-8")

    def put_if_absent_text(self, path: str, text: str) -> bool:
        bucket, key = self._to_key(path)
        body = text.encode("utf-8")
        for attempt in range(self._MAX_CONFLICT_RETRIES):
            try:
                self._client.put_object(
                    Bucket=bucket, Key=key, Body=body, IfNoneMatch="*"
                )
                return True
            except Exception as e:
                status = self._status(e)
                if status == 412:  # PreconditionFailed: lost the race
                    return False
                if status == 409 and attempt + 1 < self._MAX_CONFLICT_RETRIES:
                    continue  # concurrent conditional write: re-attempt
                raise  # genuine IO failure: surface, never mask as a race

    def exists(self, path: str) -> bool:
        bucket, key = self._to_key(path)
        try:
            self._client.head_object(Bucket=bucket, Key=key)
            return True
        except Exception as e:
            if self._status(e) == 404:
                return False
            raise

    def copy(self, src: str, dst: str) -> None:
        """Server-side object copy (S3 CopyObject): no byte round-trip
        through the client — a deep clone of a large table moves zero
        data through the driver."""
        sb, sk = self._to_key(src)
        db, dk = self._to_key(dst)
        self._client.copy_object(
            Bucket=db, Key=dk, CopySource={"Bucket": sb, "Key": sk}
        )

    def delete(self, path: str) -> bool:
        """Unconditional DELETE (idempotent per S3): a HEAD-then-DELETE
        would double the request count of vacuum's sweep and race a
        concurrent deleter for a return value the callers derive from
        manifests/listings anyway. Missing keys report True — vacuum's
        counters come from the doomed list / fresh listing, both of
        which name existing files."""
        bucket, key = self._to_key(path)
        self._client.delete_object(Bucket=bucket, Key=key)
        return True

    def _list_keys(self, bucket: str, prefix: str, delimiter: str = ""):
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix}
            if delimiter:
                kw["Delimiter"] = delimiter
            if token:
                kw["ContinuationToken"] = token
            page = self._client.list_objects_v2(**kw)
            yield page
            if not page.get("IsTruncated"):
                return
            token = page.get("NextContinuationToken")

    def list_names(self, dir_path: str) -> list[str]:
        bucket, key = self._to_key(dir_path)
        prefix = key.rstrip("/") + "/"
        names: set[str] = set()
        for page in self._list_keys(bucket, prefix, delimiter="/"):
            for c in page.get("Contents", []):
                names.add(c["Key"][len(prefix):])
            for p in page.get("CommonPrefixes", []):
                names.add(p["Prefix"][len(prefix):].rstrip("/"))
        names.discard("")
        return sorted(names)

    def list_files_recursive(self, dir_path: str) -> list[str]:
        bucket, key = self._to_key(dir_path)
        prefix = key.rstrip("/") + "/"
        out = []
        for page in self._list_keys(bucket, prefix):
            out.extend(c["Key"][len(prefix):] for c in page.get("Contents", []))
        return sorted(out)


def _s3_uri_to_key(path: str) -> tuple[str, str]:
    """``s3://bucket/a/b`` -> ("bucket", "a/b")."""
    rest = path.split("://", 1)[1]
    bucket, _, key = rest.partition("/")
    return bucket, key


# deployment/test hooks: a factory returning a boto3-shaped client for
# s3:///s3a:// table paths, and a full-shim override (tests route plain
# local paths through _S3FS + a local-mirror fake to drive every
# lakehouse op through the conditional-PUT protocol end-to-end)
_S3_CLIENT_FACTORY = None
_FS_OVERRIDE = None


def set_s3_client_factory(factory) -> None:
    """Install a zero-arg factory returning a boto3-shaped S3 client;
    s3://-scheme table paths then commit via ``_S3FS`` conditional PUT
    instead of the Hadoop rename path. Pass None to clear (falls back
    to boto3 if importable AND constructible, else _HadoopFS)."""
    global _S3_CLIENT_FACTORY, _S3_CLIENT_CACHE
    _S3_CLIENT_FACTORY = factory
    _S3_CLIENT_CACHE = None  # invalidate the memoized client


_S3_CLIENT_CACHE = None


def _s3_client():
    """Memoized: metadata ops call _fs_for per manifest access, and a
    boto3 client construction (service model load + credential resolve)
    costs tens of ms — one client serves the whole process."""
    global _S3_CLIENT_CACHE
    if _S3_CLIENT_CACHE is not None:
        # False = memoized construction FAILURE: don't re-pay the boto3
        # model-load/credential-resolve attempt on every metadata op
        return None if _S3_CLIENT_CACHE is False else _S3_CLIENT_CACHE
    if _S3_CLIENT_FACTORY is not None:
        _S3_CLIENT_CACHE = _S3_CLIENT_FACTORY()
        return _S3_CLIENT_CACHE
    try:
        import boto3  # gated: not a hard dependency

        # ANY construction failure (no region, no credentials, broken
        # transitive install) falls back to the Hadoop S3A path rather
        # than crashing metadata IO that worked before boto3 appeared
        _S3_CLIENT_CACHE = boto3.client("s3")
    except Exception as e:
        _S3_CLIENT_CACHE = False
        # one-time, on the transition only: operators should KNOW the
        # table's commits just lost the conditional-PUT guarantee (the
        # Hadoop S3A fallback is check-then-act). The failure is memoized,
        # so without this the demotion would be silent for the process
        # lifetime; set_s3_client_factory() re-arms construction.
        import warnings

        warnings.warn(
            f"boto3 S3 client construction failed ({e!r}); s3:// commits "
            f"fall back to the Hadoop S3A path, which replaces atomic "
            f"conditional PUT with check-then-act put-if-absent. Call "
            f"set_s3_client_factory(...) to install a working client "
            f"(or set_s3_client_factory(None) after fixing credentials "
            f"to retry boto3).",
            RuntimeWarning,
            stacklevel=2,
        )
        return None
    return _S3_CLIENT_CACHE


def _fs_for(table_path: str):
    """Scheme dispatch: s3://-style URIs commit via ``_S3FS`` conditional
    PUT when a client is available (installed factory or importable
    boto3); other URIs go through the Hadoop FileSystem of the live
    SparkSession (so ``file://`` exercises the Hadoop path end-to-end in
    tests and ``hdfs://`` works unchanged on a real cluster); plain local
    paths use direct POSIX IO."""
    if _FS_OVERRIDE is not None:
        fs = _FS_OVERRIDE(table_path)
        if fs is not None:
            return fs
    if table_path.startswith(("s3://", "s3a://", "s3n://")):
        client = _s3_client()
        if client is not None:
            return _S3FS(client, _s3_uri_to_key)
        # no client reachable: the Hadoop S3A path still works (weaker
        # put-if-absent — module docstring's per-backend guarantees)
    if "://" in table_path:
        # getActiveSession is THREAD-local: a commit issued from a worker
        # thread (thread-pooled writers are normal) would see None, so fall
        # back to the process-default session
        spark = SparkSession.getActiveSession() or getattr(
            SparkSession, "_instantiatedSession", None
        )
        if spark is None:
            raise RuntimeError(
                f"a SparkSession is required for non-local table path "
                f"{table_path!r}"
            )
        return _HadoopFS(spark, table_path)
    return _LocalFS()


def _path_scheme(path: str) -> str:
    """Coarse scheme family for same-store checks: ``"s3"`` for any
    s3/s3a/s3n URI, the literal scheme for other URIs (``file``,
    ``hdfs``, ...), ``"local"`` for plain paths. Matches ``_fs_for``'s
    dispatch granularity — two paths in the same family resolve to a
    shim that can copy between them."""
    if path.startswith(("s3://", "s3a://", "s3n://")):
        return "s3"
    if "://" in path:
        return path.split("://", 1)[0]
    return "local"


def _join(base: str, *names: str) -> str:
    out = base.rstrip("/")
    for n in names:
        # an absolute or fully-qualified member ref stands alone — this is
        # what lets a shallow clone's manifest reference ANOTHER table's
        # data files (see shallow_clone)
        if n.startswith("/") or "://" in n:
            out = n.rstrip("/")
        else:
            out += "/" + n.strip("/")
    return out


def _local_path(path: str) -> str | None:
    """The POSIX path for local / file:// locations; None off-box."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        return "/" + rest.lstrip("/")
    if "://" in path:
        return None
    return path


def _canon_file_ref(p: str) -> str:
    """Canonicalize a file reference for equality between paths we
    constructed and URIs Spark reports from ``input_file_name()``
    (scheme-stripped + URL-decoded for local; full URI otherwise)."""
    p = unquote(p)
    lp = _local_path(p)
    return os.path.abspath(lp) if lp is not None else p


# --------------------------------------------------------------------------
# table metadata (manifests are the sole source of truth)
# --------------------------------------------------------------------------
def _meta_versions(names: list[str], prefix: str) -> list[int]:
    out = []
    for n in names:
        if n.startswith(prefix) and n.endswith(".json"):
            try:
                out.append(int(n[len(prefix):-len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def _version_manifest_path(table_path: str, version: int) -> str:
    return _join(table_path, f"{_MANIFEST_PREFIX}{version}.json")


def _read_manifest(table_path: str, version: int) -> dict:
    return json.loads(
        _fs_for(table_path).read_text(_version_manifest_path(table_path, version))
    )


def _checkpoint_path(table_path: str, version: int) -> str:
    return _join(table_path, f"{_CHECKPOINT_PREFIX}{version}.json")


# every per-file fact of the commit log, as one fold over the manifests:
# field -> its value before the first commit. A checkpoint records every
# field at its version (``checkpoint_manifest``)
_FOLD = {
    "live": [], "first_add": {}, "spans": {}, "stats": {}, "dvs": [],
    "bloom": {"index": None, "files": {}},
}


def _fold_manifest(state: dict, v: int, m: dict) -> None:
    """Fold commit ``v``'s manifest ``m`` into the ``_FOLD`` fields that
    ``state`` holds. Remove applies before add, so a file in both lists
    (a restore's re-add) stays live and opens a new span."""
    add, removed = m.get("add", []), set(m.get("remove", []))
    if "live" in state:
        state["live"] = [f for f in state["live"] if f not in removed] + add
    if "first_add" in state:
        for f in add:
            state["first_add"].setdefault(f, v)
    if "spans" in state:
        spans = state["spans"]
        for f in removed:
            if f in spans and spans[f][-1][1] is None:
                spans[f][-1][1] = v
        for f in add:
            spans.setdefault(f, []).append([v, None])
    if "stats" in state:
        state["stats"].update(m.get("stats", {}))
    if "dvs" in state and m.get("dv"):
        state["dvs"].append([v, m["dv"], m["dv_key"]])
    bi = m.get("bloom_index")
    if "bloom" in state and bi:
        params = [bi["col"], bi["m_bits"], bi["k"], v]
        state["bloom"]["index"] = params
        for f, bits in bi["files"].items():
            state["bloom"]["files"][f] = [bits, *params]


def _live_at(spans: list, version: int) -> bool:
    """Whether a file with add/remove ``spans`` is live at ``version``."""
    return any(a <= version and (b is None or version < b) for a, b in spans)


class _Log:
    """One operation's read-only snapshot of a table's commit log. The
    table root is listed ONCE, when the snapshot is built; each
    manifest, checkpoint payload and vacuum marker is read at most once,
    on first use. A snapshot never outlives its operation: the next
    operation builds a fresh one and sees every commit published since.

    Every per-file fact comes from ONE fold of the manifests
    (``fold``). At version ``v`` it holds:

    - ``live``: the live file list (add/remove algebra, stable order);
    - ``first_add``: each file's FIRST add version (the schema-event
      chain keys off it: a restore's re-add is pure metadata, so the
      file's physical column names date from its original write);
    - ``spans``: each file's ``[added, removed-or-None]`` intervals;
      the latest add is its GENERATION (a re-add passes older deletion
      vectors: the Iceberg sequence-number-on-re-add rule);
    - ``stats``: footer [min, max] per column of every file ever added;
    - ``dvs``: ``[v, dv_files, key]`` per deletion-vector commit;
    - ``bloom``: every bloom-index entry with its own (column, m_bits,
      k, commit version), plus the newest index's.

    Removed files keep their facts (restore and vacuum need them). A
    field resumes from the latest checkpoint <= ``v`` that records it
    and folds only the manifests after it; a field that checkpoint
    lacks (one written by an older build) is folded from v0. Folds run
    on first use, so an operation that asks no per-file question reads
    no manifest. Schema events come from the hinted manifests alone
    (``events``) and resume by the same rule."""

    def __init__(self, table_path: str):
        self.path = table_path
        self.fs = _fs_for(table_path)
        names = self.fs.list_names(table_path)
        self.versions = _meta_versions(names, _MANIFEST_PREFIX)
        # the newest committed version; -1 on an empty table, where
        # every per-version question answers "nothing"
        self.latest = self.versions[-1] if self.versions else -1
        self._checkpoints = _meta_versions(names, _CHECKPOINT_PREFIX)
        self._hints = _meta_versions(names, _RENAME_HINT_PREFIX)
        self._vacuums = _meta_versions(names, _VACUUM_PREFIX)
        self._docs: dict[str, dict] = {}
        self._folds: dict[tuple, dict] = {}

    def _doc(self, name: str) -> dict:
        if name not in self._docs:
            self._docs[name] = json.loads(
                self.fs.read_text(_join(self.path, name))
            )
        return self._docs[name]

    def manifest(self, version: int) -> dict:
        return self._doc(f"{_MANIFEST_PREFIX}{version}.json")

    def manifests(self, version: int, after: int = -1) -> list[tuple[int, dict]]:
        """``(v, manifest)`` for the committed versions in (after, version]."""
        return [
            (v, self.manifest(v)) for v in self.versions if after < v <= version
        ]

    def checkpoint(self, version: int) -> dict | None:
        """The payload of the latest checkpoint <= ``version``, or None."""
        cps = [v for v in self._checkpoints if v <= version]
        return self._doc(f"{_CHECKPOINT_PREFIX}{max(cps)}.json") if cps else None

    def fold(self, version: int, field: str):
        """Fold ``field`` (a ``_FOLD`` key) at ``version``. The fields
        that share a starting point, the checkpoint or v0, fold together
        in one pass over the manifests after it."""
        cp = self.checkpoint(version)
        resume = cp is not None and field in cp
        group = tuple(f for f in _FOLD if (cp is not None and f in cp) == resume)
        key = (version, group)
        if key not in self._folds:
            state = copy.deepcopy({f: cp[f] if resume else _FOLD[f] for f in group})
            for v, m in self.manifests(version, cp["version"] if resume else -1):
                _fold_manifest(state, v, m)
            self._folds[key] = state
        return self._folds[key][field]

    def live(self, version: int) -> list[str]:
        """The live file set AT ``version`` (relative paths, stable order)."""
        return list(self.fold(version, "live"))

    def generation(self, version: int, f: str) -> int:
        """The latest version <= ``version`` that (re-)added ``f``."""
        spans = self.fold(version, "spans")
        return spans[f][-1][0] if f in spans else version

    def events(self, version: int) -> list[tuple[int, str, str, str | None]]:
        """Cumulative SCHEMA-EVENT chain at ``version``: ascending
        ``[(event_version, kind, a, b)]`` where kind is ``"rename"``
        (a=from, b=to), ``"drop"`` (a=column, b=None) or ``"retype"``
        (a=column, b=target type string). The hint files every
        metadata-only schema commit publishes before its manifest make
        "no events" a fact of the listing (ZERO reads: an appending
        stream never pays for a feature it doesn't use); with hints only
        the HINTED manifests are read — O(#events), not O(#commits). A
        hint whose manifest is missing (crashed schema change) or carries
        no event entry (the hinted version was won by a different racing
        writer) is skipped. A checkpoint <= ``version`` that records the
        chain resumes it: only hinted manifests after it are read."""
        hinted = [v for v in self._hints if v <= version]
        if not hinted:
            return []
        out: list[tuple[int, str, str, str | None]] = []
        cp = self.checkpoint(version)
        if cp is not None and "events" in cp:
            out = [
                (int(v), kind, a, b)
                for v, kind, a, b in cp["events"]
                if int(v) <= version
            ]
            hinted = [v for v in hinted if v > cp["version"]]
        committed = set(self.versions)
        for v in hinted:
            if v not in committed:
                continue  # crashed schema change: hint published, manifest never won
            m = self.manifest(v)
            if m.get("rename"):
                r = m["rename"]
                out.append((v, "rename", r["from"], r["to"]))
            if m.get("drop"):
                out.append((v, "drop", m["drop"]["column"], None))
            if m.get("retype"):
                t = m["retype"]
                out.append((v, "retype", t["column"], t["to"]))
        return out

    def vacuum_markers(self) -> list[dict]:
        return [self._doc(f"{_VACUUM_PREFIX}{n}.json") for n in self._vacuums]

    def check_not_vacuumed(
        self, version: int, files, what: str | None = None
    ) -> None:
        """Vacuum guard over the ``files`` an operation at ``version``
        opens: they are unreadable iff some vacuum run actually DELETED
        one of them (recorded in its marker) — versions committed after
        a vacuum, whose new files were never deletion candidates, pass.
        Pure metadata (no per-file existence probe). Markers written
        before the deleted-list field fall back to the kept-set coverage
        rule, restricted to versions the marker could have affected
        (nothing newer than its max retained version existed at vacuum
        time). ``what`` replaces the error's leading clause."""
        files = set(files)
        for marker in self.vacuum_markers():
            deleted = marker.get("deleted")
            if deleted is not None:
                swept = bool(files & set(deleted))
            elif version > max(marker["retained"]):
                swept = False  # committed after this (legacy) vacuum ran
            else:
                spans = self.fold(self.latest, "spans")
                swept = not all(
                    any(_live_at(spans.get(f, []), rv) for rv in marker["retained"])
                    for f in files
                )
            if swept:
                raise ValueError(
                    f"{what or f'version {version} at {self.path} was vacuumed'}"
                    f" (retained: {marker['retained']})"
                )

    def resolve(self, version: int | None) -> tuple[int, list[str]]:
        """``(version, live files)`` for a read of ``version`` (None =
        latest): the version must be committed, have live files and not
        be vacuumed."""
        if not self.versions:
            raise ValueError(f"no committed versions at {self.path}")
        if version is None:
            version = self.latest
        if version not in self.versions:
            raise ValueError(
                f"version {version} not in {self.versions} at {self.path}"
            )
        files = self.live(version)
        if not files:
            raise ValueError(
                f"version {version} at {self.path} has no live files"
            )
        self.check_not_vacuumed(version, files)
        return version, files


def list_versions(table_path: str) -> list[int]:
    """Committed versions = the set of published manifest files (one
    immutable put-if-absent file per commit; no secondary log)."""
    return _Log(table_path).versions


def live_files(table_path: str, version: int) -> list[str]:
    """The live file set AT ``version`` (``_Log.live``)."""
    return _Log(table_path).live(version)


def file_stats(table_path: str, version: int) -> dict:
    """{relative file -> {column -> [min, max]}} for every file added at
    or before ``version`` (files whose commit predates stats support, or
    whose columns have no footer stats, are simply absent)."""
    return _Log(table_path).fold(version, "stats")


def checkpoint_manifest(table_path: str, version: int | None = None) -> str:
    """Write a CHECKPOINT of the commit log at ``version`` (default:
    latest), the Delta checkpoint primitive. It records the whole
    ``_Log`` fold at ``version`` (live set, first adds, add/remove
    spans, footer stats, deletion-vector commits, bloom entries and the
    newest index) plus the resolved schema-event chain, so every later
    operation at or after ``version`` reads this payload and only the
    manifests committed after it. Pure metadata; no data file is read
    or moved. Idempotent: the payload is a pure function of the
    immutable manifests, so a lost put-if-absent race is a no-op
    success."""
    log = _Log(table_path)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    if version is None:
        version = log.latest
    if version not in log.versions:
        raise ValueError(
            f"version {version} not in {log.versions} at {table_path}"
        )
    path = _checkpoint_path(table_path, version)
    payload = {"version": version, **{f: log.fold(version, f) for f in _FOLD}}
    payload["events"] = log.events(version)
    log.fs.put_if_absent_text(path, json.dumps(payload))
    return path


# ---------------------------------------------------------------------------
# column mapping (RENAME COLUMN as a metadata-only commit)
# ---------------------------------------------------------------------------
def _rename_triples(
    events: list[tuple[int, str, str, str | None]]
) -> list[tuple[int, str, str]]:
    """The rename-only view of a typed event chain — the shape the pure
    name-mapping consumers (``_physical_name``, stats-key probes,
    ``rename_history``) key off."""
    return [(v, a, b) for v, kind, a, b in events if kind == "rename"]


def _physical_name(
    logical: str, add_version: int, renames: list[tuple[int, str, str]]
) -> str:
    """The column name a file FIRST-added at ``add_version`` physically
    stores for logical column ``logical``: invert, newest-first, every
    rename committed after the file was written."""
    name = logical
    for rv, frm, to in reversed(renames):
        if rv > add_version and name == to:
            name = frm
    return name


def _bloom_at(log: _Log, version: int) -> tuple[tuple | None, dict]:
    """The bloom index at ``version`` from the log fold: ``(index,
    entries)``. ``index`` is the newest index's ``(column, m_bits, k)``
    (None if never indexed); ``entries`` maps each indexed file to
    ``(bitmap, column, m_bits, k)`` as it was built. Columns are LOGICAL
    names at ``version``: the renames committed after an entry move its
    column (bitmaps hash values, so they survive a rename)."""
    bloom = log.fold(version, "bloom")
    renames = _rename_triples(log.events(version))

    def bind(col, m_bits, k, v):
        for rv, frm, to in renames:
            if rv > v and col == frm:
                col = to
        return (col, m_bits, k)

    index = bind(*bloom["index"]) if bloom["index"] else None
    return index, {f: (bits, *bind(*p)) for f, (bits, *p) in bloom["files"].items()}


def _prune_by_stats(
    log: _Log, version: int, files: list[str], column: str, keep
) -> tuple[list[str], list[str]]:
    """Split ``files`` (live at ``version``) into (candidates, skipped)
    by the manifest-recorded footer [min, max] of LOGICAL ``column``: a
    file is skipped only when it has a recorded range and
    ``keep(lo, hi)`` is false; files without stats stay candidates.
    Footer stats are keyed by each file's PHYSICAL column name, so the
    column maps through the rename chain per file (pre-rename files keep
    pruning under the new name). The one data-skipping rule behind
    ``prune_files_by_stats``, merge_upsert's probe and the CDC apply and
    tombstone purge (sources/cdc_apply.py). Pure metadata."""
    stats = log.fold(version, "stats")
    renames = _rename_triples(log.events(version))
    first_add = log.fold(version, "first_add") if renames else {}
    candidates, skipped = [], []
    for f in files:
        phys = _physical_name(column, first_add.get(f, version), renames)
        rng = stats.get(f, {}).get(phys)
        (candidates if rng is None or keep(*rng) else skipped).append(f)
    return candidates, skipped


def _overlaps(lo, hi):
    """``_prune_by_stats`` keep test: the file's range overlaps
    [lo, hi]; an empty key set (lo None) keeps every file."""
    return lambda a, b: lo is None or not (a > hi or b < lo)


def _logical_read(
    spark: SparkSession, log: _Log, files: list[str], version: int
) -> DataFrame:
    """Scan an explicit file list presenting the LOGICAL schema at
    ``version`` — the single choke point every multi-file read in this
    module (and mor.py / bloom_index.py / cdc_apply.py) goes through.
    Each scan group takes its schema from the data files' own footers
    when every file carries the same Spark schema there
    (``_shared_footer_schema`` — no inference job, the same schema);
    otherwise (off-box, keyless files, additive evolution) it is the
    ``mergeSchema`` scan. Without schema events that is one scan. With
    events, files are grouped by the event chain that applies to them
    (events committed AFTER the file's first add), each group is renamed
    to logical names, and the groups union by name — the Iceberg
    name-mapping / Delta column-mapping semantics without rewriting a
    byte. Total I/O = the file list once, same as the plain scan; the
    per-group rename is a zero-cost projection. The event chain and
    first-add map come from the operation's log snapshot, so repeated
    reads in one operation add no metadata I/O."""

    def scan(paths: list[str]) -> DataFrame:
        full = [_join(log.path, f) for f in paths]
        schema = _shared_footer_schema(full)
        if schema is None:
            return spark.read.option("mergeSchema", "true").parquet(*full)
        return spark.read.schema(schema).parquet(*full)

    events = log.events(version)
    if not events:
        return scan(files)
    from pyspark.sql import functions as F

    first_add = log.fold(version, "first_add")
    groups: dict[tuple, list[str]] = {}
    for f in files:
        addv = first_add.get(f, version)
        chain = tuple(e for e in events if e[0] > addv)
        groups.setdefault(chain, []).append(f)
    out = None
    for chain, members in sorted(groups.items()):
        part = scan(members)
        # apply the group's event subsequence IN COMMIT ORDER: a rename
        # moves the physical name forward, a drop kills the column's
        # LINEAGE as named at that point (so a later re-added column of
        # the same name in newer files is a different, visible lineage).
        # Retypes are deferred to one post-union cast — the logical type
        # at ``version`` applies to every row regardless of file vintage.
        for _ev, kind, a, b in chain:
            if kind == "rename" and a in part.columns:
                part = part.withColumnRenamed(a, b)
            elif kind == "drop" and a in part.columns:
                part = part.drop(a)
        out = (
            part
            if out is None
            else out.unionByName(part, allowMissingColumns=True)
        )
    # retype = one cast over the unioned frame: walk the FULL chain to
    # find each pending cast's final logical name (later renames move
    # it; a later drop cancels it — a re-added same-named column is a
    # new lineage the old retype never touched)
    pending: dict[str, str] = {}
    for _ev, kind, a, b in events:
        if kind == "retype":
            pending[a] = b
        elif kind == "rename" and a in pending:
            pending[b] = pending.pop(a)
        elif kind == "drop":
            pending.pop(a, None)
    for name, dtype in pending.items():
        if name in out.columns:
            out = out.withColumn(name, F.col(name).cast(dtype))
    return out


# merged LOGICAL schema cache: a committed (table_path, version) pair is
# immutable — its live set, event chain and therefore merged schema can
# never change — so the expensive part (one parquet footer read PER LIVE
# FILE, or a mergeSchema inference job) is paid at most once
# per version instead of once per point lookup / empty-frame build
# (round-9 advisor finding: negative lookups paid O(live files) footer
# IO per call). Bounded LRU; invalidated on commit for the one case a
# (path, version) pair CAN recur — a scratch table torn down and
# re-created at the same path restarts at v0, and _commit purges every
# cached version >= the newly committed one for that path.
from collections import OrderedDict as _OrderedDict

_SCHEMA_CACHE: "_OrderedDict[tuple[str, int], object]" = _OrderedDict()
_SCHEMA_CACHE_MAX = 256


def _schema_cache_put(key: tuple, schema) -> None:
    """Single insertion point for ``_SCHEMA_CACHE`` so EVERY insert pays
    the same LRU trim — a long chain of metadata-only ALTERs pre-populates
    one entry per commit and must not grow the cache unboundedly between
    ordinary lookups."""
    _SCHEMA_CACHE[key] = schema
    while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
        _SCHEMA_CACHE.popitem(last=False)


def _schema_cache_get(key: tuple):
    """Single lookup point for ``_SCHEMA_CACHE``: every hit is an LRU
    touch (move_to_end), so all lookup sites — the main logical-schema
    read path here and the bloom point-lookup fast path — share one
    eviction discipline instead of drifting FIFO/LRU independently."""
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None:
        _SCHEMA_CACHE.move_to_end(key)
    return hit


def logical_schema(
    spark: SparkSession, log: _Log, files: list[str], version: int
):
    """The merged LOGICAL StructType at ``version`` (exactly
    ``_logical_read(...).schema``), memoized per (table_path, version)."""
    key = (log.path, version)
    hit = _schema_cache_get(key)
    if hit is not None:
        return hit
    schema = _logical_read(spark, log, files, version).schema
    _schema_cache_put(key, schema)
    return schema


def _logical_schema_at(spark: SparkSession, log: _Log):
    """Logical StructType at the LATEST version, via the memoized
    ``logical_schema`` — the validation probe for the metadata-only
    schema ops (rename/drop/retype). On a cache hit this is zero I/O;
    on a miss it costs the same one footer pass ``read_version`` pays.
    Together with the event-derived pre-population in
    ``_commit_schema_event``, a CHAIN of metadata ops on a 100 TB table
    pays the footer pass once, not once per ALTER.

    Cache scope caveat (same as ``_SCHEMA_CACHE`` itself): the
    commit-time purge only covers IN-PROCESS re-creation of a table at
    the same path. If ANOTHER process tears down and re-creates the
    table at this path, a DDL in this process can validate against the
    old table's stale cached schema — acceptable under the repo's
    documented single-writer-per-process cache scope."""
    version = log.versions[-1]
    files = log.live(version)
    if not files:
        raise ValueError(
            f"version {version} at {log.path} has no live files"
        )
    return logical_schema(spark, log, files, version)


def _apply_event_to_schema(schema, extra: dict):
    """Derive the post-event logical StructType from the pre-event one —
    the exact transform ``_logical_read`` applies (rename preserves
    position, drop removes, retype re-types in place), used to
    pre-populate the schema cache for the version a metadata-only
    commit just created.

    Every derived field is normalized to ``nullable=True`` with empty
    metadata — exactly what the real read path (the parquet scan
    + ``unionByName`` + ``withColumn``/``alias``, which drops metadata
    and is force-nullable for some casts) always produces — so a
    non-nullable or metadata-bearing field entering the chain can never
    make the pre-populated entry disagree with ``_logical_read``."""
    from pyspark.sql import types as T

    fields = list(schema.fields)
    if "rename" in extra:
        frm, to = extra["rename"]["from"], extra["rename"]["to"]
        fields = [
            T.StructField(to, f.dataType, f.nullable, f.metadata)
            if f.name == frm
            else f
            for f in fields
        ]
    if "drop" in extra:
        fields = [f for f in fields if f.name != extra["drop"]["column"]]
    if "retype" in extra:
        col, to = extra["retype"]["column"], extra["retype"]["to"]
        dt = T._parse_datatype_string(to)
        fields = [
            T.StructField(f.name, dt, f.nullable, f.metadata)
            if f.name == col
            else f
            for f in fields
        ]
    return T.StructType(
        [T.StructField(f.name, f.dataType, True, None) for f in fields]
    )


# Driver-side fast path for SMALL commit writes (r14 optimization, guide
# §5/§6): a full distributed write job costs ~0.2 s of scheduling +
# committer + writer-init for a state-sized frame that a single pyarrow
# write handles in ~5 ms after a ~50 ms Arrow collect. At warehouse
# scale the bounds simply never qualify (the footer row/byte budget of
# the frame's input scan exceeds them) and every write stays distributed.
_SMALL_COMMIT_ROWS = 200_000
_SMALL_COMMIT_INPUT_BYTES = 64 * 1024 * 1024

# logical-plan node names that can only PRESERVE or REDUCE row count, so
# "sum of input-file footer rows" is a sound upper bound for the frame.
# Anything else (Join, Generate/explode, Expand, LogicalRDD from a
# checkpoint, InMemoryRelation, Range, OneRowRelation, ...) bails to
# "unknown" — the caller may still pass a bound it can prove itself.
_ROW_BOUND_SAFE_NODES = frozenset(
    {
        "Project",
        "Filter",
        "Sort",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "Deduplicate",
        "Aggregate",  # grouped <= input rows; global = 1 row
        "Window",
        "GlobalLimit",
        "LocalLimit",
        "Union",  # sum of its inputs; each scan leaf is counted (below)
        "Sample",  # only without replacement (checked below)
        "Relation",
        "LogicalRelation",
    }
)

# the footer key under which Spark's parquet writer stores the row
# schema (StructType JSON) — the same key Spark's own schema inference
# reads first; the driver-side writers below store it too
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

_FOOTER_META_CACHE: dict[tuple[str, int, int], tuple[int, object]] = {}


def _footer_meta(local_path: str) -> tuple[int, object] | None:
    """``(num_rows, spark_schema)`` from the parquet footer (driver-side
    metadata read, no data scan); ``spark_schema`` is the StructType the
    file stores under ``_SPARK_ROW_METADATA``, or None when it stores
    none. One read serves both the row bound and the footer schema.
    Cached on (path, size, mtime) — data files in this layer are
    immutable once committed, but scratch fixtures can be rewritten."""
    try:
        st = os.stat(local_path)
    except OSError:
        return None
    key = (local_path, st.st_size, int(st.st_mtime_ns))
    hit = _FOOTER_META_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(local_path).metadata
    except Exception:  # noqa: BLE001 — footer metadata is best-effort
        return None
    schema = None
    raw = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if raw is not None:
        from pyspark.sql.types import StructType

        try:
            schema = StructType.fromJson(json.loads(raw))
        except Exception:  # noqa: BLE001 — unparseable: infer instead
            schema = None
    _FOOTER_META_CACHE[key] = (md.num_rows, schema)
    return _FOOTER_META_CACHE[key]


def _footer_rows(local_path: str) -> int | None:
    """num_rows from the parquet footer (see ``_footer_meta``)."""
    meta = _footer_meta(local_path)
    return None if meta is None else meta[0]


def _footer_schema(path: str):
    """The Spark StructType a data file stores in its footer, or None
    (off-box path, unreadable footer, or a file without the key)."""
    lp = _local_path(path)
    meta = _footer_meta(lp) if lp is not None else None
    return None if meta is None else meta[1]


def _shared_footer_schema(paths: list[str]):
    """The footer schema every file in ``paths`` carries, when they all
    carry the same one (parsed StructTypes compared, not JSON text) —
    passing it to ``spark.read.schema`` gives exactly the schema
    ``mergeSchema`` would infer, without the inference job. Footers are
    read on the driver through ``_FOOTER_META_CACHE``. None keeps the
    mergeSchema scan: an off-box path, a file without the key, or
    differing schemas (additive evolution)."""
    first = _footer_schema(paths[0]) if paths else None
    if first is None or any(_footer_schema(p) != first for p in paths[1:]):
        return None
    return first


def _scan_inputs(df: DataFrame) -> tuple[int, int] | None:
    """``(rows, bytes)`` upper bounds on what ``df`` reads, or None.

    Sound only when every operator in the optimized logical plan is
    row-preserving/reducing (whitelist above) over plain local file
    scans: then rows(df) <= leaves x sum of the input files' footer
    num_rows, where leaves is the number of scan nodes — inputFiles()
    dedups, so a self-union reads the same files once per leaf; bytes is
    leaves x the files' sizes. Multiplying or opaque nodes (joins,
    explode, checkpoints, sampling with replacement) return None."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001 — probe is best-effort
        return None
    leaves = 0
    for line in plan.splitlines():
        m = re.match(r"^[\s:+|-]*([A-Za-z]+)(.*)", line)
        if not m:
            continue  # argument continuation / blank line
        node, args = m.groups()
        if node not in _ROW_BOUND_SAFE_NODES:
            return None
        if node in ("Relation", "LogicalRelation"):
            leaves += 1
        elif node == "Sample" and args.split(",")[2:3] != [" false"]:
            return None  # args: lower, upper, withReplacement, seed
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    if not files or not leaves:
        return None
    total_rows = 0
    total_bytes = 0
    for f in files:
        lp = _local_path(unquote(f))
        if lp is None:
            return None
        n = _footer_rows(lp)
        if n is None:
            return None
        total_rows += n
        try:
            total_bytes += os.path.getsize(lp)
        except OSError:
            return None
    return leaves * total_rows, leaves * total_bytes


def scan_rows_bound(df: DataFrame) -> int | None:
    """Provable upper bound on ``df``'s row count (``_scan_inputs``), or
    None. Also None when the inputs exceed the small-commit byte budget
    — a bound that large is useless to the fast path. Callers holding a
    frame whose scan is hidden behind a localCheckpoint can call this
    BEFORE the checkpoint and pass the bound through explicitly."""
    inputs = _scan_inputs(df)
    if inputs is None or inputs[1] > _SMALL_COMMIT_INPUT_BYTES:
        return None
    return inputs[0]


def _files_rows_bound(table_path: str, files: list[str]) -> int | None:
    """Sum of footer num_rows over committed ``files`` (table-relative) —
    an exact row count for the files, hence an upper bound for any
    filtered rewrite of them. None off-box or on any unreadable footer."""
    total = 0
    for f in files:
        lp = _local_path(_join(table_path, f))
        if lp is None:
            return None
        n = _footer_rows(lp)
        if n is None:
            return None
        total += n
    return total


def _driver_write_qualifies(path: str, bound: int | None) -> bool:
    """Whether a frame with row bound ``bound`` written under ``path``
    takes the driver-side fast path: a proven bound within the
    small-commit budget and a local destination."""
    return (
        bound is not None
        and bound <= _SMALL_COMMIT_ROWS
        and _local_path(path) is not None
    )


# spark.sql.parquet.compression.codec values with an exact pyarrow twin;
# any other codec (lz4, lzo, brotli, ...) keeps Spark's default, snappy
_ARROW_CODECS = {
    "none": "none",
    "uncompressed": "none",
    "snappy": "snappy",
    "gzip": "gzip",
    "zstd": "zstd",
}


def _write_arrow_file(df: DataFrame, tbl, local_dir: str) -> str:
    """Write ``tbl`` (``df`` collected to Arrow) as ONE parquet file in
    ``local_dir`` the way Spark's writer would — the session's
    compression codec, and ``df``'s schema under ``_SPARK_ROW_METADATA``
    so readers take the footer schema instead of inferring one. Returns
    the file name. The one writer behind both driver-side fast paths
    (small commits here, small deletion vectors in mor.py)."""
    import uuid

    import pyarrow.parquet as pq

    codec = df.sparkSession.conf.get(
        "spark.sql.parquet.compression.codec", "snappy"
    )
    meta = dict(tbl.schema.metadata or {})
    meta[_SPARK_ROW_METADATA] = df._jdf.schema().json().encode()
    os.makedirs(local_dir, exist_ok=True)
    name = f"part-00000-{uuid.uuid4().hex[:12]}.parquet"
    pq.write_table(
        tbl.replace_schema_metadata(meta),
        os.path.join(local_dir, name),
        compression=_ARROW_CODECS.get((codec or "").lower(), "snappy"),
    )
    return name


def _write_data_files(
    df: DataFrame,
    table_path: str,
    version: int,
    rows_bound: int | str | None = "auto",
) -> list[str]:
    """Write ``df``'s parquet files under a UNIQUE per-attempt staging dir
    ``v=<version>/w-<uuid>/`` and return their table-relative paths. Only
    the manifest references them: two attempts racing the same version
    (the Structured-Streaming zombie-replay window — a stalled duplicate
    of a batch resuming after the winner committed) each write disjoint
    directories, so the loser can never delete or overwrite the winner's
    already-committed files. The loser's staging dir is invisible garbage
    (readers only ever open manifest-listed files) and is reclaimed by
    ``vacuum``'s orphan sweep.

    ``rows_bound``: "auto" derives a provable row bound from the plan
    (``scan_rows_bound``); an int is a caller-proven bound; None forces
    the distributed write (used by layout-producing rewrites like
    ``compact_files`` whose MULTI-file output is the product, and by
    callers that know the frame is large).

    SMALL frames (bound within the small-commit budgets, local path) are
    collected as ONE Arrow batch and written as a single parquet file by
    the driver. Task-retry / zombie-writer safety is unchanged from the
    distributed path: the driver write has no task retries at all (one
    process writes one file into the attempt-unique staging dir), the
    data become visible only through the manifest put-if-absent in
    ``_commit``, and a loser/crashed attempt leaves only invisible
    staging garbage for ``vacuum`` — the commit protocol never relied on
    Hadoop committer atomicity (see session.py committer-v2 note)."""
    files, _n = _write_data_files_ex(df, table_path, version, rows_bound)
    return files


def _write_data_files_ex(
    df: DataFrame,
    table_path: str,
    version: int,
    rows_bound: int | str | None = "auto",
    kind: str = "w",
) -> tuple[list[str], int | None]:
    """``_write_data_files`` returning ``(files, n_rows)`` — ``n_rows``
    is known (for free) only when the driver-side fast path ran; callers
    that need the count otherwise pay their own job. ``kind`` names the
    staging dir ``v=<version>/<kind>-<uuid>/``: ``w`` for data files,
    ``dv`` for deletion-vector sidecars (sources/mor.py)."""
    import uuid

    attempt = f"v={version}/{kind}-{uuid.uuid4().hex[:12]}"
    snap = _join(table_path, attempt)
    bound = scan_rows_bound(df) if rows_bound == "auto" else rows_bound
    if _driver_write_qualifies(snap, bound):
        tbl = df.toArrow()  # one collect job, bounded by ``bound``
        if tbl.num_rows > 0:
            # 0-row frames fall through to the distributed writer so
            # the add-list shape (one empty part file vs none) stays
            # byte-identical with the historical behavior
            name = _write_arrow_file(df, tbl, _local_path(snap))
            return [f"{attempt}/{name}"], tbl.num_rows
    df.write.mode("overwrite").parquet(snap)
    fs = _fs_for(table_path)
    return sorted(
        f"{attempt}/{name}"
        for name in fs.list_names(snap)
        if name.endswith(".parquet")
    ), None


def _footer_stats(abs_path: str) -> dict:
    """Per-column [min, max] from the parquet FOOTER (free — no data scan;
    the Delta/Iceberg per-file stats primitive). Only JSON-plain scalar
    columns are kept. Off the local filesystem the harvest degrades to {}
    (files without stats simply stay probe candidates — correctness is
    unaffected, only data skipping)."""
    lp = _local_path(abs_path)
    if lp is None:
        return {}
    import pyarrow.parquet as pq

    f = pq.ParquetFile(lp)
    agg: dict[str, list] = {}
    for rg in range(f.metadata.num_row_groups):
        for ci in range(f.metadata.num_columns):
            col = f.metadata.row_group(rg).column(ci)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                lo, hi = st.min, st.max
            except Exception:
                # pyarrow raises ArrowNotImplementedError for types it
                # cannot extract stats for (e.g. wide decimals) — such
                # columns simply stay probe candidates
                continue
            if isinstance(lo, bytes) or not isinstance(lo, (int, float, str)):
                continue
            name = col.path_in_schema
            if name in agg:
                agg[name] = [min(agg[name][0], lo), max(agg[name][1], hi)]
            else:
                agg[name] = [lo, hi]
    return agg


def _commit(
    table_path: str,
    version: int,
    add: list[str],
    remove: list[str],
    commit_ts: str | None = None,
    extra: dict | None = None,
) -> None:
    """Commit ``version``: put-if-absent publish the per-version manifest
    (add/remove lists + per-added-file footer min/max stats). The
    manifest file is the ENTIRE commit record — visible iff committed,
    complete by construction (put-if-absent only ever exposes a fully
    written file), immutable forever after.

    Optimistic concurrency (the Delta put-if-absent commit protocol): two
    writers racing the SAME version number cannot both publish the
    manifest, so the loser raises CommitConflict instead of silently
    overwriting the winner. Writers committing DISTINCT versions never
    contend at all — each publishes its own new file and no shared file
    is read-modify-written (there is no secondary version log). A writer
    that crashes before its manifest publish leaves only orphan staging
    files under ``v=<n>/w-<uuid>/`` — invisible to readers, reclaimed by
    ``vacuum``. Writers proposing the SAME version number write disjoint
    staging dirs, so even a zombie duplicate attempt cannot disturb the
    winner's committed files; the loser raises CommitConflict and its
    staging dir becomes sweepable garbage."""
    stats = {
        f: s
        for f in add
        if (s := _footer_stats(_join(table_path, f)))
    }
    if commit_ts is None:
        import datetime as _dt

        commit_ts = (
            _dt.datetime.now(_dt.timezone.utc)
            .strftime("%Y-%m-%d %H:%M:%S.%f")
        )
    manifest = {
        "version": version,
        "ts": commit_ts,
        "add": add,
        "remove": remove,
        "stats": stats,
    }
    if extra:
        # extension fields (e.g. merge-on-read deletion vectors,
        # sources/mor.py) — additive only: every reader of the core
        # fields above ignores keys it doesn't know
        manifest.update(extra)
    won = _fs_for(table_path).put_if_absent_text(
        _version_manifest_path(table_path, version),
        json.dumps(manifest),
    )
    if not won:
        raise CommitConflict(
            f"version {version} at {table_path} was already committed by "
            f"another writer"
        )
    # schema-cache hygiene: committed versions are immutable, but a torn-
    # down table re-created at the same path restarts at v0 — purge any
    # cached schema at or above the version just committed for this path
    for k in [
        k for k in _SCHEMA_CACHE if k[0] == table_path and k[1] >= version
    ]:
        del _SCHEMA_CACHE[k]


def _check_commit_order(table_path: str, version: int) -> _Log:
    """The commit-time log snapshot, once ``version`` is checked to be
    the next commit: a non-negative int above every committed
    version."""
    if version is None or not isinstance(version, int) or version < 0:
        raise ValueError(
            f"commit version must be a non-negative int, got {version!r}"
        )
    log = _Log(table_path)
    if version in log.versions:
        raise ValueError(f"version {version} already committed at {table_path}")
    if version < log.latest:
        raise ValueError(
            f"versions commit in increasing order: {version} < max {log.latest}"
        )
    return log


def _check_retired_names(
    table_path: str,
    events: list[tuple[int, str, str, str | None]],
    df_columns,
    op: str,
) -> None:
    """Schema enforcement at the ONE point the rename design needs it: a
    writer carrying a column name that a committed rename RETIRED would
    silently resurrect the old name NEXT TO its renamed successor
    (reads union by name — the table would grow both columns with
    interleaved NULLs). Fail loudly naming the current logical
    successor. Retirement follows the LAST chain event touching a name:
    a rename consuming it kills it; any later rename TARGETING it (a
    rename back, or an unrelated column renamed onto the freed name)
    revives it; and a DROP of its current successor revives it too —
    with the successor gone there is nothing to resurrect next to, so a
    writer reusing the name starts a clean new lineage (same rule as
    re-adding a dropped column). Names compare case-insensitively,
    matching Spark's default resolution (a case variant would resurrect
    just as ambiguously). Pure metadata over the chain at the latest
    version."""
    if not any(kind == "rename" for _v, kind, _a, _b in events):
        return
    # lower(frm) -> (rv, frm, current successor) maintained in commit
    # order so each retired name tracks where its data lives NOW
    dead: dict[str, tuple[int, str, str]] = {}
    for v, kind, a, b in events:
        if kind == "rename":
            for key, (rv, frm, succ) in list(dead.items()):
                if succ.lower() == a.lower():
                    dead[key] = (rv, frm, b)
            dead.pop(b.lower(), None)  # (re-)established as a target
            dead[a.lower()] = (v, a, b)
        elif kind == "drop":
            for key, (_rv, _frm, succ) in list(dead.items()):
                if succ.lower() == a.lower():
                    del dead[key]
    for col in df_columns:
        hit = dead.get(col.lower())
        if hit is None:
            continue
        rv, _frm, cur = hit
        raise ValueError(
            f"{op}: column {col!r} was renamed to {cur!r} at "
            f"{table_path} (commit {rv}); write it as {cur!r} "
            f"(reusing a retired name would resurrect it next to "
            f"its successor)"
        )


def write_version(
    df: DataFrame,
    table_path: str,
    version: int,
    commit_ts: str | None = None,
    expectations: dict[str, str] | None = None,
    rows_bound: int | str | None = "auto",
) -> str:
    """Commit ``df`` as the FULL content of ``version`` (replace commit:
    the manifest adds the new files and removes every previously-live
    file). Versions commit in increasing order; committed versions are
    immutable. ``rows_bound``: see ``_write_data_files`` — callers whose
    frame hides its scan behind a checkpoint may pass a bound they can
    prove (``scan_rows_bound`` on the pre-checkpoint frame)."""
    log = _check_commit_order(table_path, version)
    return _write_version(df, log, version, commit_ts, expectations, rows_bound)


def _write_version(
    df: DataFrame,
    log: _Log,
    version: int,
    commit_ts: str | None = None,
    expectations: dict[str, str] | None = None,
    rows_bound: int | str | None = "auto",
) -> str:
    """``write_version`` over an already-checked commit snapshot."""
    _check_retired_names(
        log.path, log.events(log.latest), df.columns, "write_version"
    )
    check_expectations(df, expectations or {})
    add = _write_data_files(df, log.path, version, rows_bound=rows_bound)
    _commit(
        log.path, version, add=add, remove=log.live(log.latest),
        commit_ts=commit_ts,
    )
    return _join(log.path, f"v={version}")


def append_version(
    df: DataFrame,
    table_path: str,
    version: int,
    commit_ts: str | None = None,
    expectations: dict[str, str] | None = None,
    rows_bound: int | str | None = "auto",
) -> str:
    """Commit ``df`` as an APPEND: ``version`` sees all previously-live
    files PLUS ``df``'s new files — no prior file is read, rewritten, or
    copied (file-level commit, the Delta/Iceberg primitive)."""
    log = _check_commit_order(table_path, version)
    _check_retired_names(
        table_path, log.events(log.latest), df.columns, "append_version"
    )
    check_expectations(df, expectations or {})
    add = _write_data_files(df, table_path, version, rows_bound=rows_bound)
    _commit(table_path, version, add=add, remove=[], commit_ts=commit_ts)
    return _join(table_path, f"v={version}")


def _masking_dvs(log: _Log, version: int, files: list[str]) -> list[int]:
    """Every deletion-vector commit <= ``version`` when any of them still
    masks one of ``files`` at ``version`` (a DV masks files whose
    generation predates it — ``_Log.generation``), else []. A flat re-add
    of such files (a copy-on-write rewrite, a restore, a clone) would
    silently resurrect the masked rows."""
    dvs = [v for v, _f, _k in log.fold(version, "dvs")]
    if not dvs:
        return []
    if any(log.generation(version, f) < dv for f in files for dv in dvs):
        return dvs
    return []


def _check_no_active_dvs(log: _Log, op: str) -> None:
    """Copy-on-write rewriters read live files RAW: rewriting rows that
    a merge-on-read deletion vector masks (sources/mor.py) would re-add
    them at a version NEWER than the DV, which the Iceberg sequencing
    rule then exempts forever — silent resurrection of deleted rows.
    Refuse while any DV still applies to a live file; ``purge_deletes``
    (which materializes the masked view first) is the sanctioned path."""
    dvs = _masking_dvs(log, log.latest, log.live(log.latest))
    if dvs:
        raise ValueError(
            f"{op} on {log.path} would resurrect rows masked by active "
            f"deletion vectors (commits {dvs}); run purge_deletes first"
        )


def _match_counts(table_path: str, files: list[str], matches) -> dict[str, int]:
    """The touched-file probe of every copy-on-write rewriter:
    ``{file: matching rows}`` for the ``files`` (in their order) that
    ``matches``, a filtered scan of them, reads rows from. One job
    collects one row per matching file; a caller that already collected
    per-file counts passes them as ``(input_file_name(), n)`` pairs."""
    from pyspark.sql import functions as F

    if isinstance(matches, DataFrame):
        matches = [
            (r["f"], r["n"])
            for r in matches.groupBy(F.input_file_name().alias("f"))
            .agg(F.count("*").alias("n"))
            .collect()
        ]
    by_ref = {_canon_file_ref(f): n for f, n in matches}
    refs = {f: _canon_file_ref(_join(table_path, f)) for f in files}
    return {f: by_ref[refs[f]] for f in files if refs[f] in by_ref}


def delete_where(
    spark: SparkSession,
    table_path: str,
    version: int,
    predicate: str,
    commit_ts: str | None = None,
) -> dict:
    """Commit ``version`` as the previous live content MINUS rows matching
    ``predicate`` (a SQL boolean expression) — the file-level DELETE /
    MERGE primitive: only files that actually CONTAIN matching rows are
    rewritten (without the matches) and swapped in the manifest; untouched
    files stay live as-is. Returns {"files_rewritten", "files_kept",
    "rows_deleted"}. At warehouse scale the touched-file probe is one scan
    with per-file match counts (Delta narrows it further with file-level
    min/max stats before the scan — the same commit algebra applies).
    Multi-file reads go through ``_logical_read``: the files' shared
    footer schema, or ``mergeSchema`` when they disagree, so additive
    schema evolution survives a rewrite (a narrower sampled schema would
    silently drop newer columns)."""
    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    _check_no_active_dvs(log, "delete_where")
    prev_live = log.live(log.latest)
    # _logical_read: the predicate binds LOGICAL names, so the delete
    # reaches rows in files written under a pre-rename physical name;
    # input_file_name() survives the per-vintage union
    counts = _match_counts(
        table_path, prev_live,
        _logical_read(spark, log, prev_live, log.latest).filter(predicate),
    )
    touched = list(counts)
    rows_deleted = sum(counts.values())
    add: list[str] = []
    if touched:
        # the rewrite reads logical names, so the survivor files are
        # physically re-keyed to the current logical schema
        survivors = _logical_read(
            spark, log, touched, log.latest
        ).filter(f"NOT ({predicate})")
        add = _write_data_files(survivors, table_path, version)
    _commit(table_path, version, add=add, remove=touched, commit_ts=commit_ts)
    return {
        "files_rewritten": len(touched),
        "files_kept": len(prev_live) - len(touched),
        "rows_deleted": int(rows_deleted),
    }


def _arrow_key_bounds(tbl, schema, key: str) -> dict | None:
    """Spark's ``min``/``max``/``count``/``countDistinct`` of ``key``
    over a collected update set, computed by ``pyarrow.compute`` under
    the same null rules (min/max/countDistinct skip nulls, the row count
    does not). None — the caller aggregates in Spark — unless ``key`` is
    exactly one field of a type whose ordering and distinctness agree in
    both engines: floating keys do not (Spark orders NaN last and folds
    -0.0 into 0.0, pyarrow skips NaN and keeps -0.0), nor do collated
    strings or nested types."""
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    fields = [f for f in schema.fields if f.name == key]
    if len(fields) != 1:
        return None
    dt = fields[0].dataType
    exact = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.BooleanType, T.DateType, T.DecimalType,
    )
    if not (isinstance(dt, exact) or dt == T.StringType()):
        return None
    col = tbl.column(key)
    lo_hi = pc.min_max(col)
    return {
        "lo": lo_hi["min"].as_py(),
        "hi": lo_hi["max"].as_py(),
        "n_updates": tbl.num_rows,
        "n_update_keys": pc.count_distinct(col, mode="only_valid").as_py(),
    }


def merge_upsert(
    spark: SparkSession,
    table_path: str,
    version: int,
    updates: DataFrame,
    key: str,
    commit_ts: str | None = None,
) -> dict:
    """Commit ``version`` as the previous live content UPSERTED with
    ``updates`` (MERGE ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
    INSERT, keyed on ``key``, assumed unique on both sides): live files
    containing a matched key are rewritten with those rows replaced;
    untouched files stay live as-is; unmatched update rows are appended.
    File algebra identical to delete_where — probe scan for touched
    files, rewrite touched + new rows, manifest remove/add. The update
    set broadcasts (it is the small side by construction; a billion-row
    reconciliation would instead shuffle-join on the key — same commit).
    Returns {"files_rewritten", "files_kept", "rows_updated",
    "rows_inserted"}."""
    from pyspark.sql import functions as F

    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    _check_no_active_dvs(log, "merge_upsert")
    _check_retired_names(
        table_path, log.events(log.latest), updates.columns, "merge_upsert"
    )
    prev_live = log.live(log.latest)
    # the update set is computed ONCE (3 uses below). Unless its scan
    # inputs already prove it over the small-commit budget, it is
    # collected to Arrow in one bounded job and, when within the budget
    # in rows and bytes, rebuilt as a local relation with its key bounds
    # and counts taken on the driver; otherwise an eager localCheckpoint
    # pins it and Spark aggregates it
    inputs = _scan_inputs(updates)
    small = None
    if inputs is None or (
        inputs[0] <= _SMALL_COMMIT_ROWS
        and inputs[1] <= _SMALL_COMMIT_INPUT_BYTES
    ):
        small = updates.limit(_SMALL_COMMIT_ROWS + 1).toArrow()
        if (
            small.num_rows > _SMALL_COMMIT_ROWS
            or small.nbytes > _SMALL_COMMIT_INPUT_BYTES
        ):
            small = None
    bounds = None
    if small is not None:
        bounds = _arrow_key_bounds(small, updates.schema, key)
        updates = spark.createDataFrame(small, schema=updates.schema)
    else:
        updates = updates.localCheckpoint(eager=True)
    keys_df = F.broadcast(updates.select(key).distinct())

    # file skipping via footer min/max stats: a live file whose [min,max]
    # range on the merge key cannot overlap the update keys' range cannot
    # contain a match — the probe scan reads only overlapping files (the
    # Delta data-skipping primitive; files without stats stay candidates).
    # Row count and distinct-key count ride with the bounds (driver-side
    # for a collected set, else one agg — 3 jobs under AQE) — the count
    # feeds rows_inserted and the pair checks the MERGE uniqueness
    # contract, which gates the fused single-probe below.
    if bounds is None:
        bounds = updates.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count(F.lit(1)).alias("n_updates"),
            F.countDistinct(key).alias("n_update_keys"),
        ).first()
    n_updates = int(bounds["n_updates"])
    updates_unique = int(bounds["n_update_keys"]) == n_updates
    candidates, _ = _prune_by_stats(
        log, log.latest, prev_live, key, _overlaps(bounds["lo"], bounds["hi"])
    )

    probe_df = (
        _logical_read(spark, log, candidates, log.latest)
        if candidates
        else None
    )
    counts: dict[str, int] = {}
    matched_update_rows = 0
    if probe_df is not None:
        semi = probe_df.join(keys_df, key, "semi")
        if updates_unique:
            # r14 fusion: ONE rollup job yields both the per-file matched
            # counts (the touched-file set) and, at the grand-total row,
            # countDistinct(key) over all matched live rows — which equals
            # the matched-UPDATE-row count exactly when update keys are
            # unique (checked above on this batch, not assumed): each
            # distinct matched live key matches exactly one update row.
            # input_file_name() is nondeterministic, which grouping-sets
            # analysis rejects as a rollup expression — project it to a
            # plain attribute first (same evaluation point as the groupBy
            # form: once per scanned row)
            rows = (
                semi.select(F.input_file_name().alias("__mrg_file"), F.col(key))
                .rollup("__mrg_file")
                .agg(
                    F.count("*").alias("n"),
                    F.countDistinct(key).alias("nk"),
                    F.grouping("__mrg_file").alias("is_total"),
                )
                .collect()
            )
            matched_update_rows = sum(int(r["nk"]) for r in rows if r["is_total"])
            counts = _match_counts(
                table_path, candidates,
                [(r["__mrg_file"], r["n"]) for r in rows if not r["is_total"]],
            )
        else:
            # duplicate update keys violate the MERGE contract upstream but
            # keep the pre-fusion two-job semantics: count matched update
            # ROWS directly so duplicates can't skew rows_inserted
            counts = _match_counts(table_path, candidates, semi)
            matched_update_rows = updates.join(
                probe_df.select(key).distinct(), key, "semi"
            ).count()
    touched = list(counts)
    # rows_updated = live rows REPLACED (if live carries duplicate keys,
    # every duplicate is replaced by the single update row — MERGE also
    # dedups); rows_inserted counts update rows whose key has no live
    # match, computed so duplicate live keys can't skew it
    rows_updated = sum(counts.values())
    rows_inserted = n_updates - matched_update_rows

    if touched:
        survivors = _logical_read(spark, log, touched, log.latest).join(
            keys_df, key, "anti"
        )
        new_rows = survivors.unionByName(updates, allowMissingColumns=True)
    else:
        new_rows = updates
    # provable bound (the anti-join blocks the automatic plan walk):
    # survivors <= touched files' footer rows, plus every update row
    touched_rows = _files_rows_bound(table_path, touched)
    bound = (
        touched_rows + rows_updated + rows_inserted
        if touched_rows is not None
        else None
    )
    add = _write_data_files(new_rows, table_path, version, rows_bound=bound)
    _commit(table_path, version, add=add, remove=touched, commit_ts=commit_ts)
    return {
        "files_rewritten": len(touched),
        "files_kept": len(prev_live) - len(touched),
        "rows_updated": int(rows_updated),
        "rows_inserted": int(rows_inserted),
    }


def compact_files(
    spark: SparkSession,
    table_path: str,
    version: int,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
    commit_ts: str | None = None,
) -> dict:
    """Commit ``version`` as a bin-packed REWRITE of the live set into
    ``target_files`` files — logically identical content (the Delta
    OPTIMIZE primitive; small-file compaction after many incremental
    commits). Older versions still read their own file lists. Reads
    through ``_logical_read`` (shared footer schema, else mergeSchema),
    so a compaction after additive schema evolution keeps every column
    (older files surface NULLs, same as read_version).

    ``cluster_by``: range-cluster the rewrite on these columns (the
    OPTIMIZE ZORDER role for the single/lexicographic-column case):
    ``repartitionByRange(target_files, cols)`` + sortWithinPartitions
    gives each output file a TIGHT, near-disjoint [min,max] range on the
    leading column, which is exactly what the manifest footer-stats
    skipping (``prune_files_by_stats`` / merge's probe) feeds on — after
    clustering, a point probe opens ~1 file instead of all of them.

    ``zorder_by``: the two-dimensional form (the Delta OPTIMIZE ZORDER BY
    analogue): both integer columns quantize against the live extremes
    and interleave into a Morton code (``operators.layout``), and the
    rewrite range-partitions on the curve — every output file is a small
    (x, y) tile with TIGHT footer [min,max] on BOTH columns, so
    ``prune_files_by_stats`` skips files for predicates on either.
    Mutually exclusive with ``cluster_by``."""
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    _check_no_active_dvs(log, "compact_files")
    prev_live = log.live(log.latest)
    # logical names: a compaction after a rename physically re-keys
    # every file to the current schema (the sanctioned way to retire a
    # long rename chain — and to re-enable bloom indexing on a renamed
    # column)
    df = _logical_read(spark, log, prev_live, log.latest)
    if cluster_by:
        df = df.repartitionByRange(
            max(1, target_files), *cluster_by
        ).sortWithinPartitions(*cluster_by)
    elif zorder_by:
        from dodo_spark.operators.layout import zorder_repartitioned

        df = zorder_repartitioned(df, *zorder_by, target_files)
    else:
        df = df.coalesce(max(1, target_files))
    # the MULTI-file clustered/zordered layout (tight per-file ranges) is
    # this operator's product — never collapse it to the single-file
    # driver write; the plain coalesce(1) path produces one file either
    # way, so it may take the fast path
    layout = bool(cluster_by or zorder_by) or target_files > 1
    add = _write_data_files(
        df, table_path, version, rows_bound=None if layout else "auto"
    )
    extra = _bloom_rebuild_extra(spark, log, add, df.schema)
    _commit(
        table_path, version, add=add, remove=prev_live,
        commit_ts=commit_ts, extra=extra,
    )
    return {"files_before": len(prev_live), "files_after": len(add)}


def _bloom_rebuild_extra(
    spark: SparkSession, log: _Log, add: list[str], schema
):
    """Rewrite-time BLOOM INDEX maintenance, shared by every BULK
    rewriter (compact_files, purge_tombstones): a rewrite invalidates
    the per-file bitmaps of every file it removes; without a rebuild
    the new files would fall back to scan-always (correct but
    unpruned). If the table's newest bloom index (``_bloom_at``, its
    column under the LOGICAL name) names a column the rewrite keeps,
    return a manifest ``extra`` with fresh bitmaps for the NEW files —
    point lookups keep their pruning across rewrites (Delta
    bloom-filter-index semantics: the index is table metadata,
    maintenance rewrites maintain it). Returns None when the table was
    never indexed, the column is gone, or nothing was written.
    Deliberately NOT called from the per-micro-batch apply_cdc_batch
    hot path: a bitmap job per batch would be a standing tax; its
    rewritten files stay scan-always until the next compaction/purge."""
    index, _entries = _bloom_at(log, log.latest)
    if index is None or index[0] not in schema.names or not add:
        return None
    from dodo_spark.sources.bloom_index import bloom_words_for_files

    col, m_bits, k = index
    # the rewriter just wrote these files from ``df`` — its schema is the
    # files' schema exactly, so the read-back skips footer inference
    blooms = bloom_words_for_files(
        spark, log.path, add, col, m_bits, k, schema=schema,
    )
    return {"bloom_index": {"col": col, "m_bits": m_bits, "k": k, "files": blooms}}


class ExpectationViolation(ValueError):
    """An ingest-time CHECK constraint failed; nothing was committed."""


def check_expectations(df: DataFrame, expectations: dict[str, str]) -> None:
    """Ingest-time data-quality gate (the Delta CHECK-constraint /
    expectations primitive): every ``{name: sql_predicate}`` must hold
    for EVERY row of ``df`` or the whole batch is rejected before any
    commit. One aggregate pass counts all violations together (one job,
    not one per constraint); the error names each failed constraint with
    its violation count — the fail-closed posture a training-data ingest
    wants (a bad batch never becomes a committed version).

    NULL semantics follow SQL CHECK: a predicate evaluating to NULL
    (unknown) on a row does NOT count as a violation — write
    ``col IS NOT NULL AND col > 0`` when NULLs must be rejected."""
    from pyspark.sql import functions as F

    if not expectations:
        return
    names = list(expectations)
    row = df.agg(
        *[
            F.sum((~F.expr(pred)).cast("bigint")).alias(name)
            for name, pred in expectations.items()
        ]
    ).first()
    failed = {n: int(row[n]) for n in names if row[n]}
    if failed:
        raise ExpectationViolation(
            "expectation(s) violated, batch rejected: "
            + ", ".join(f"{n} ({c} rows)" for n, c in sorted(failed.items()))
        )


def vacuum(
    table_path: str,
    keep_versions: int = 2,
    retain_after: str | None = None,
) -> dict:
    """Delete data files referenced ONLY by versions outside the retention
    set (Delta VACUUM): time travel keeps working for the retained
    versions; older versions become unreadable (their manifests remain as
    history metadata) and ``read_version`` reports them as vacuumed via a
    put-if-absent vacuum MARKER recording the retained set. Pure
    driver-side file arithmetic over the manifests — no Spark job.

    Retention set = the newest ``keep_versions`` UNION every version
    whose commit ts >= ``retain_after`` (the Delta ``RETAIN n HOURS``
    form; accepts the same renderings as AS-OF probes — bare date,
    ``T``-separated ISO, reduced precision). The probe is canonicalized to
    the manifests' 26-char ``YYYY-MM-DD HH:MM:SS.ffffff`` rendering before
    the lexicographic compare: an ISO ``T`` separator sorts ABOVE every
    space-separated commit stamp, so without canonicalization the time
    retention set would be silently empty and files the caller meant to
    keep would be deleted. Malformed input raises instead of
    under-retaining. The newest version always survives regardless of
    its age."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    if retain_after is not None:
        retain_after = _canon_ts(retain_after)
    log = _Log(table_path)
    versions = log.versions
    if not versions:
        return {
            "files_deleted": 0,
            "versions_retained": [],
            "orphan_files_deleted": 0,
        }
    retained = versions[-keep_versions:]
    if retain_after is not None:
        by_time = [
            v
            for v in versions
            if (log.manifest(v).get("ts") or "") >= retain_after
        ]
        retained = sorted(set(retained) | set(by_time))
    # every file ever added, kept when live at some retained version.
    # Absolute / fully-qualified refs point into ANOTHER table's root
    # (shallow_clone): this table does not OWN those files, so vacuum
    # must never delete them — only the owning table's vacuum may.
    # Deleting them here would destroy the clone SOURCE's data.
    doomed = sorted(
        f
        for f, spans in log.fold(log.latest, "spans").items()
        if not any(_live_at(spans, v) for v in retained)
        and not (f.startswith("/") or "://" in f)
    )
    # publish the marker BEFORE deleting so a crash mid-delete still
    # reports affected versions as vacuumed rather than file-not-found.
    # The marker records the EXACT deleted list: the vacuum guard flags a
    # version iff its live set intersects some marker's deleted set, so
    # versions committed AFTER this vacuum (whose new files were never
    # deletion candidates) stay readable.
    if doomed:
        seq = len(log._vacuums)
        while not log.fs.put_if_absent_text(
            _join(table_path, f"{_VACUUM_PREFIX}{seq}.json"),
            json.dumps(
                {
                    "retained": retained,
                    "files_deleted": len(doomed),
                    "deleted": doomed,
                }
            ),
        ):
            seq += 1
    for f in doomed:
        log.fs.delete(_join(table_path, f))
    orphans = _sweep_orphan_data_files(log)
    return {
        "files_deleted": len(doomed),
        "versions_retained": retained,
        "orphan_files_deleted": orphans,
    }


def _sweep_orphan_data_files(log: _Log) -> int:
    """Delete data files under ``v=<n>/`` subtrees that no manifest
    references, for versions <= the max committed version. Such files are
    torn attempts or zombie duplicate writers that lost the put-if-absent
    race; commit order is monotone (``_check_commit_order``), so a version
    number <= max(versions) can never be committed again and the files are
    permanently unreachable. In-flight writers always target a version
    > max(versions) and are never touched."""
    # deletion-vector sidecars (sources/mor.py) are manifest-referenced
    # metadata, not orphans
    referenced = set(log.fold(log.latest, "spans")) | {
        p for _v, dv, _k in log.fold(log.latest, "dvs") for p in dv
    }
    deleted = 0
    for rel in log.fs.list_files_recursive(log.path):
        top = rel.split("/", 1)[0]
        if not top.startswith("v="):
            continue
        try:
            n = int(top[2:])
        except ValueError:
            continue
        if n <= log.latest and rel not in referenced:
            if log.fs.delete(_join(log.path, rel)):
                deleted += 1
    return deleted


def read_version(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """``FOR VERSION AS OF version``; ``None`` reads the latest version.
    Reads exactly the version's live FILE LIST (never a directory), so
    appended-to versions share unchanged files with their ancestors.
    A version whose files were removed by ``vacuum`` raises a clean
    "was vacuumed" error (checked against the vacuum markers — pure
    metadata, no per-file existence probe) instead of a parquet
    file-not-found deep in the scan.

    Schema: the footer schema the files share (no inference job), or
    mergeSchema when they differ — ADDITIVE schema evolution: an
    append_version that introduced new columns unions by name with
    older files (absent columns read as NULL), the Delta/Iceberg
    add-column semantics. RENAME / DROP / RETYPE are metadata-only
    commits resolved per file by the schema-event chain
    (``_logical_read``).

    Metadata cost: one ``_Log`` snapshot — ONE directory listing and at
    most one read per manifest, checkpoint and vacuum marker answer
    every question this read asks (pinned by the FS op-counter tests in
    tests/test_schema_events.py). On an event-free table the hint fast
    path adds ZERO reads on top of the manifest replay."""
    log = _Log(table_path)
    version, files = log.resolve(version)
    return _logical_read(spark, log, files, version)


def _contains_any(values):
    """``_prune_by_stats`` keep test: the file's range contains at least
    one of ``values``."""
    vals = list(values)
    return lambda lo, hi: any(lo <= v <= hi for v in vals)


def prune_files_by_stats(
    table_path: str, version: int, column: str, values
) -> tuple[list[str], list[str]]:
    """Split ``version``'s live files into (candidates, skipped) by the
    manifest-recorded footer [min,max] range of ``column`` vs a value set
    — the generic data-skipping read primitive (``_prune_by_stats``): a
    file is SKIPPED only when its recorded range provably contains none
    of ``values``; files without stats stay candidates. ``column`` is
    the LOGICAL name at ``version``. Pure metadata — no file is
    opened."""
    log = _Log(table_path)
    return _prune_by_stats(
        log, version, log.live(version), column, _contains_any(values)
    )


def read_version_pruned(
    spark: SparkSession, table_path: str, version: int, column: str, values
) -> DataFrame:
    """``read_version`` restricted to rows whose ``column`` is in
    ``values``, opening ONLY the stat-qualified files (manifest-level
    data skipping standing in for directory partition pruning; the
    residual filter still applies row-group/row-level pruning inside the
    candidates). The schema is ``read_version``'s whichever files
    survive: after additive evolution, kept files that predate a column
    read it as NULL."""
    from pyspark.sql import functions as F

    log = _Log(table_path)
    version, live = log.resolve(version)
    candidates, _ = _prune_by_stats(
        log, version, live, column, _contains_any(values)
    )
    if not candidates:
        # provably empty: keep the schema without scanning data rows
        return _logical_read(spark, log, live, version).filter(F.lit(False))
    df = _logical_read(spark, log, candidates, version)
    # a strict subset of live files that all share one footer schema and
    # no schema event reads exactly read_version's schema; otherwise the
    # kept files may predate a column
    if len(candidates) < len(live) and (
        log.events(version)
        or _shared_footer_schema([_join(table_path, f) for f in live]) is None
    ):
        full = logical_schema(spark, log, live, version)
        if df.schema != full:
            have = set(df.columns)
            df = df.select(
                [
                    F.col(f.name)
                    if f.name in have
                    else F.lit(None)
                    .cast(f.dataType)
                    .alias(f.name, metadata=f.metadata)
                    for f in full.fields
                ]
            )
    return df.filter(F.col(column).isin(list(values)))


def read_changes(
    spark: SparkSession, table_path: str, version: int
) -> tuple[DataFrame | None, DataFrame | None]:
    """Per-commit change feed: ``(added_rows, removed_rows)`` for exactly
    one commit — the CDC primitive that makes incremental consumers
    possible on this commit log. Reads ONLY the files named in
    ``version``'s own manifest (never the table's live set), so the cost
    of consuming a commit is proportional to the commit, not the table:
    a 1 GB append to a 100 TB table feeds downstream refreshes with 1 GB
    of I/O. A rewriting commit (delete/merge/compact) yields both sides;
    consumers net them (``removed`` rows carry negative multiplicity in
    an aggregate delta). Either side is ``None`` when the manifest's
    list is empty.

    A merge-on-read DELETE commit (``sources/mor.py``: a DV sidecar,
    NO data files added or removed) yields its masked rows as the
    REMOVED side — without this an incremental consumer would silently
    keep MoR-deleted rows forever. The removed rows are the PRIOR
    version's visible rows semi-joined against the DV keys; the scan is
    bounded by a pushed key-range predicate from the DV's own bounds
    (footer min/max skipping), so the cost tracks the delete's
    selectivity, not the table."""
    from dodo_spark.sources.mor import apply_dvs_to_files

    log = _Log(table_path)
    versions = log.versions
    if version not in versions:
        raise ValueError(f"version {version} not in {versions} at {table_path}")
    m = log.manifest(version)
    # guard the files this read will actually open: the commit's own
    # add+remove (+DV sidecar) lists. A RETAINED version's remove-side
    # files belonged to its predecessor and may still have been swept,
    # so the union is checked against each marker, not the live set.
    log.check_not_vacuumed(
        version,
        set(m.get("add") or [])
        | set(m.get("remove") or [])
        | set(m.get("dv") or []),
        f"changes for version {version} at {table_path} reference "
        f"vacuumed files",
    )

    def _rd(files: list[str]) -> DataFrame | None:
        if not files:
            return None
        # logical names AS OF the consumed commit: a change feed row uses
        # the column names the table had when the change committed (a
        # remove-side file written pre-rename still surfaces the commit's
        # names). A rename commit itself adds/removes nothing -> (None,
        # None), semantically a no-op for row-level consumers.
        return _logical_read(spark, log, files, version)

    idx = versions.index(version)
    if m.get("dv") and not (m.get("add") or m.get("remove")):
        from pyspark.sql import functions as F

        dv_key = m["dv_key"]
        keys = _rd(m["dv"]).distinct()
        bounds = keys.agg(
            F.min(dv_key).alias("lo"), F.max(dv_key).alias("hi")
        ).first()
        prior_v, prior_files = log.resolve(versions[idx - 1])
        prior = apply_dvs_to_files(spark, log, prior_files, prior_v)
        if bounds["lo"] is not None:
            # scan-side range predicate: parquet footer min/max skips
            # files/row-groups outside the DV's key bounds
            prior = prior.filter(
                F.col(dv_key).between(F.lit(bounds["lo"]), F.lit(bounds["hi"]))
            )
        removed = prior.join(F.broadcast(keys), dv_key, "semi")
        return None, removed

    remove_files = m.get("remove") or []
    removed_df = _rd(remove_files)
    # the remove side must be netted at its PRIOR-version visibility: if
    # DVs were active on those files (a purge / rewrite after a MoR
    # delete), a raw read would re-subtract the already-removed masked
    # rows — fold-the-feed then undercounts
    if remove_files and idx > 0 and log.fold(versions[idx - 1], "dvs"):
        removed_df = apply_dvs_to_files(
            spark, log, remove_files, versions[idx - 1]
        )
    return _rd(m.get("add") or []), removed_df


def _canon_ts(time_str: str) -> str:
    """Canonical 26-char ``YYYY-MM-DD HH:MM:SS.ffffff`` rendering of an
    AS-OF probe, accepting a bare date, date+time, or full precision
    (``T`` separator tolerated). The instant is unchanged — absent
    components pad with zeros — so prefix probes compare inclusively
    against full-precision commit stamps."""
    import datetime as _dt

    s = time_str.strip()
    try:
        parsed = _dt.datetime.fromisoformat(s.replace("T", " ", 1))
    except ValueError:
        raise ValueError(
            f"invalid AS OF timestamp {time_str!r}: expected "
            f"YYYY-MM-DD[ HH:MM:SS[.ffffff]]"
        )
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return parsed.strftime("%Y-%m-%d %H:%M:%S.%f")


def version_history(table_path: str) -> list[dict]:
    """[{version, ts}] for every committed version, ascending (the
    DESCRIBE HISTORY primitive). Manifests written before commit-ts
    support surface ts=None."""
    log = _Log(table_path)
    return [
        {"version": v, "ts": m.get("ts")} for v, m in log.manifests(log.latest)
    ]


def resolve_as_of(table_path: str, time_str: str) -> int:
    """The version a ``FOR TIME AS OF time_str`` read resolves to: the
    NEWEST version whose commit timestamp is <= the requested time.
    ``time_str`` is first canonicalized to the manifests' 26-char
    ``YYYY-MM-DD HH:MM:SS.ffffff`` rendering (missing time-of-day /
    fraction components pad with zeros), so a bare date or a
    seconds-precision probe is INCLUSIVE of commits stamped at exactly
    that instant — without the padding, '2025-06-02' would
    lexicographically exclude '2025-06-02 00:00:00.000000'. Comparison is
    then string <=, which on the canonical rendering is chronological.
    Commit timestamps are non-decreasing in version order by construction
    at a single writer; with skewed writer clocks the resolution is still
    deterministic (latest qualifying version wins). Raises if the table
    has no version that old."""
    return _resolve_as_of(_Log(table_path), time_str)


def _resolve_as_of(log: _Log, time_str: str) -> int:
    probe = _canon_ts(time_str)
    hist = [
        (v, m["ts"])
        for v, m in log.manifests(log.latest)
        if m.get("ts") is not None
    ]
    if not hist:
        raise ValueError(f"no timestamped versions at {log.path}")
    qualifying = [v for v, ts in hist if ts <= probe]
    if not qualifying:
        raise ValueError(
            f"no version at {log.path} committed at or before "
            f"{time_str!r} (earliest: {hist[0][1]!r})"
        )
    return max(qualifying)


def read_as_of(spark: SparkSession, table_path: str, time_str: str) -> DataFrame:
    """``FOR TIME AS OF '<timestamp>'`` (reference tableSnapshot, the
    second alternative of ``DorisParser.g4:1754-1757``): resolve the
    commit-time-qualified version, then read it exactly like
    ``read_version`` (same live-file-list scan, same vacuum guard), off
    one log snapshot."""
    log = _Log(table_path)
    version, files = log.resolve(_resolve_as_of(log, time_str))
    return _logical_read(spark, log, files, version)


# --------------------------------------------------------------------------
# verify key
# --------------------------------------------------------------------------
def _register_time_travel() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel",
        oracle="""
        WITH v0 AS (
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM orders WHERE o_orderkey < 1000
        ), v1 AS (
          SELECT o_orderkey, o_custkey,
                 CASE WHEN o_orderkey < 500 THEN o_totalprice * 2
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey < 1000
          UNION ALL
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 1200
        )
        SELECT CAST(0 AS BIGINT) AS version,
               CAST(COUNT(*) AS BIGINT) AS rows_at,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS custs,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM v0
        UNION ALL
        SELECT CAST(1 AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        FROM v1
        """,
        doc="A25: time travel FOR VERSION AS OF (reference tableSnapshot "
        "DorisParser.g4:1754-1757) over versioned parquet snapshots "
        "(sources/versioned.py — immutable v=<n>/ dirs + append-only "
        "manifest, the Delta/Iceberg primitive without the format "
        "dependency). v0 = bounded orders slice; v1 = v0 with an UPDATE "
        "(price doubled below key 500 — exact in binary FP) and an "
        "APPEND (keys 1000-1199). Both snapshots are read back via "
        "read_version and aggregated; the oracle recomputes each snapshot "
        "from the source table, so any version bleed (update visible in "
        "v0, append missing in v1) hash-mismatches.",
    )
    def time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        o = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        v0 = o.filter(k < 1000).select("o_orderkey", "o_custkey", "o_totalprice")
        updated = v0.withColumn(
            "o_totalprice",
            F.when(k < 500, F.col("o_totalprice") * 2).otherwise(F.col("o_totalprice")),
        )
        appended = o.filter((k >= 1000) & (k < 1200)).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        v1 = updated.unionByName(appended)

        table = scratch_dir("time_travel")
        write_version(v0, table, 0)
        write_version(v1, table, 1)

        def snap_agg(version: int) -> DataFrame:
            snap = read_version(spark, table, version)
            return snap.agg(
                F.lit(version).cast("bigint").alias("version"),
                F.count("*").alias("rows_at"),
                F.countDistinct("o_custkey").alias("custs"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
            )

        return snap_agg(0).unionByName(snap_agg(1))


_register_time_travel()


def _register_time_travel_diff() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_diff",
        oracle="""
        WITH diff AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey >= 1000 THEN 'insert'
                      WHEN o_orderkey < 500 THEN 'update'
                      ELSE 'unchanged' END AS change_type,
                 CASE WHEN o_orderkey >= 1000 OR o_orderkey < 500
                      THEN CAST(round(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END AS delta_cents
          FROM orders WHERE o_orderkey < 1200
        )
        SELECT change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(delta_cents) AS BIGINT) AS delta_cents
        FROM diff GROUP BY change_type ORDER BY change_type
        """,
        doc="Change-data-capture between table versions (the Delta CDF / "
        "Iceberg changelog primitive, built on the same snapshot store as "
        "A25 time travel): v0 and v1 of time_travel's orders slice are "
        "committed, read back, and FULL-OUTER joined on the table key — "
        "rows only in v1 are inserts, rows whose value changed are "
        "updates (exact cents delta), equal rows are unchanged; deletes "
        "would surface as v0-only rows. The oracle recomputes every class "
        "from the base table, so a snapshot bleeding between versions or "
        "a wrong join side flips a class and hash-mismatches. Keyed CDC "
        "is one SMJ on the table key — the incremental-view maintenance "
        "shape at any scale.",
    )
    def time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        o = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        v0 = o.filter(k < 1000).select("o_orderkey", "o_custkey", "o_totalprice")
        updated = v0.withColumn(
            "o_totalprice",
            F.when(k < 500, F.col("o_totalprice") * 2).otherwise(F.col("o_totalprice")),
        )
        appended = o.filter((k >= 1000) & (k < 1200)).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        v1 = updated.unionByName(appended)

        table = scratch_dir("time_travel_diff")
        write_version(v0, table, 0)
        write_version(v1, table, 1)

        a = read_version(spark, table, 0).select(
            F.col("o_orderkey").alias("k0"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c0"),
        )
        b = read_version(spark, table, 1).select(
            F.col("o_orderkey").alias("k1"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c1"),
        )
        joined = a.join(b, a.k0 == b.k1, "full_outer")
        change = (
            F.when(F.col("k0").isNull(), "insert")
            .when(F.col("k1").isNull(), "delete")
            .when(F.col("c0") != F.col("c1"), "update")
            .otherwise("unchanged")
        )
        delta = F.coalesce(F.col("c1"), F.lit(0)) - F.coalesce(F.col("c0"), F.lit(0))
        return (
            joined.select(change.alias("change_type"), delta.alias("delta_cents"))
            .groupBy("change_type")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("delta_cents").cast("bigint").alias("delta_cents"),
            )
            .orderBy("change_type")
        )


_register_time_travel_diff()


def _register_time_travel_incremental() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_incremental",
        oracle="""
        WITH v0 AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_orderkey < 1000
        ), v1 AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_orderkey < 1200
        ), v2 AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_orderkey < 1400
        )
        SELECT CAST(0 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS rows_at,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS custs,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
               TRUE AS no_rewrite
        FROM v0
        UNION ALL
        SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), TRUE
        FROM v1
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), TRUE
        FROM v2
        ORDER BY version
        """,
        doc="Incremental time travel over file-level manifests (the Delta "
        "commit-log / Iceberg manifest primitive; closes the round-4 "
        "'whole-table snapshot CoW' caveat): v0 is a full commit, v1 and "
        "v2 are append_version commits that write ONLY their new files — "
        "no prior file is read or rewritten, so a 1% append costs 1% I/O "
        "at any table size. Each version is read back via its live FILE "
        "LIST and aggregated; the no_rewrite column is an in-plan "
        "contract asserting (a) every v0 data file is still live at v2 "
        "byte-identical (same path, mtime untouched by later commits) "
        "and (b) each append's manifest removes nothing — FALSE if any "
        "commit rewrote history. The oracle recomputes all three "
        "version states from the source table.",
    )
    def time_travel_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        o = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        table = scratch_dir("time_travel_incremental")
        write_version(o.filter(k < 1000).select(cols), table, 0)
        v0_live = set(live_files(table, 0))
        append_version(o.filter((k >= 1000) & (k < 1200)).select(cols), table, 1)
        append_version(o.filter((k >= 1200) & (k < 1400)).select(cols), table, 2)
        no_rewrite = v0_live <= set(live_files(table, 2)) and all(
            not _read_manifest(table, v).get("remove") for v in (1, 2)
        )

        def snap_agg(version: int) -> DataFrame:
            return read_version(spark, table, version).agg(
                F.lit(version).cast("bigint").alias("version"),
                F.count("*").alias("rows_at"),
                F.countDistinct("o_custkey").alias("custs"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.lit(no_rewrite).alias("no_rewrite"),
            )

        return (
            snap_agg(0)
            .unionByName(snap_agg(1))
            .unionByName(snap_agg(2))
            .orderBy("version")
        )


_register_time_travel_incremental()


def _register_time_travel_delete() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_delete",
        oracle="""
        WITH v1 AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_orderkey < 1200
        ), v2 AS (
          SELECT * FROM v1
          WHERE NOT (o_orderkey >= 1000 AND o_orderkey % 10 = 3)
        )
        SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS rows_at,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
               TRUE AS v0_files_untouched
        FROM v1
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), TRUE
        FROM v2
        ORDER BY version
        """,
        doc="Row-level DELETE over file-level manifests (delete_where — the "
        "Delta DELETE/MERGE primitive on the same commit algebra as "
        "time_travel_incremental): v0 commits orders below key 1000, v1 "
        "appends 1000-1199 as its own file, v2 deletes keys ending in 3 "
        "FROM THE APPENDED RANGE ONLY — so the probe scan finds matches "
        "solely in v1's file, rewrites just that file without the "
        "matches, and leaves every v0 file live untouched. Output: "
        "pre/post-delete aggregates plus the v0_files_untouched contract "
        "(v0's live set is a subset of v2's — FALSE if the delete "
        "rewrote history it didn't need to touch). The oracle recomputes "
        "both states from the source table.",
    )
    def time_travel_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        o = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        table = scratch_dir("time_travel_delete")
        write_version(o.filter(k < 1000).select(cols), table, 0)
        v0_live = set(live_files(table, 0))
        append_version(
            o.filter((k >= 1000) & (k < 1200)).select(cols).coalesce(1), table, 1
        )
        delete_where(spark, table, 2, "o_orderkey >= 1000 AND o_orderkey % 10 = 3")
        untouched = v0_live <= set(live_files(table, 2))

        def snap_agg(version: int) -> DataFrame:
            return read_version(spark, table, version).agg(
                F.lit(version).cast("bigint").alias("version"),
                F.count("*").alias("rows_at"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.lit(untouched).alias("v0_files_untouched"),
            )

        return snap_agg(1).unionByName(snap_agg(2)).orderBy("version")


_register_time_travel_delete()


def _register_time_travel_merge() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_merge",
        oracle="""
        WITH v1 AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_orderkey < 1200
        ), upd AS (
          SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
          FROM orders WHERE o_orderkey >= 1100 AND o_orderkey < 1300
        ), v2 AS (
          SELECT v1.o_orderkey, v1.o_custkey,
                 COALESCE(u.o_totalprice, v1.o_totalprice) AS o_totalprice
          FROM v1 LEFT JOIN upd u ON u.o_orderkey = v1.o_orderkey
          UNION ALL
          SELECT u.o_orderkey, u.o_custkey, u.o_totalprice
          FROM upd u WHERE u.o_orderkey >= 1200
        )
        SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS rows_at,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
               TRUE AS v0_files_untouched
        FROM v1
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), TRUE
        FROM v2
        ORDER BY version
        """,
        doc="MERGE upsert over file-level manifests (merge_upsert — Delta's "
        "WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT on the same commit "
        "algebra as delete_where): v0 commits orders below key 1000, v1 "
        "appends 1000-1199 as its own file, v2 merges doubled-price rows "
        "for keys 1100-1299 — 1100-1199 UPDATE rows living only in v1's "
        "file (so only that file rewrites), 1200-1299 INSERT. Output: "
        "pre/post-merge aggregates + the v0_files_untouched contract (v0's "
        "live set survives into v2 — FALSE if the merge rewrote files "
        "containing no matched keys). Doubling a 2-decimal price is exact "
        "in binary FP, so the oracle's recomputed states hash exactly.",
    )
    def time_travel_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        o = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        cols = ["o_orderkey", "o_custkey", "o_totalprice"]
        table = scratch_dir("time_travel_merge")
        write_version(o.filter(k < 1000).select(cols), table, 0)
        v0_live = set(live_files(table, 0))
        append_version(
            o.filter((k >= 1000) & (k < 1200)).select(cols).coalesce(1), table, 1
        )
        updates = (
            o.filter((k >= 1100) & (k < 1300))
            .select(
                "o_orderkey",
                "o_custkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
            )
        )
        merge_upsert(spark, table, 2, updates, "o_orderkey")
        untouched = v0_live <= set(live_files(table, 2))

        def snap_agg(version: int) -> DataFrame:
            return read_version(spark, table, version).agg(
                F.lit(version).cast("bigint").alias("version"),
                F.count("*").alias("rows_at"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.lit(untouched).alias("v0_files_untouched"),
            )

        return snap_agg(1).unionByName(snap_agg(2)).orderBy("version")


_register_time_travel_merge()


def _register_time_travel_as_of() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_as_of",
        oracle="""
        WITH v0 AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1000
        ), v1 AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1200
        ), v2 AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1400
        )
        SELECT 'mid_day1' AS probe, CAST(0 AS BIGINT) AS resolved_version,
               CAST(COUNT(*) AS BIGINT) AS rows_at,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
               TRUE AS too_early_raises
        FROM v0
        UNION ALL
        SELECT 'exact_v1_commit', CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), TRUE
        FROM v1
        UNION ALL
        SELECT 'after_last', CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), TRUE
        FROM v2
        ORDER BY resolved_version
        """,
        doc="A25 second alternative — `FOR TIME AS OF` (reference "
        "tableSnapshot DorisParser.g4:1754-1757): commits record their "
        "timestamp in the manifest, and read_as_of resolves the NEWEST "
        "version committed at or before the requested time, then reads "
        "its live file list exactly like read_version. Three commits are "
        "made with injected timestamps (June 1/2/3); probes at mid-day-1 "
        "(-> v0), exactly the v1 commit instant (boundary: AS OF is "
        "inclusive -> v1), and after the last commit (-> v2) are each "
        "aggregated; too_early_raises asserts a probe before the first "
        "commit errors cleanly instead of resolving to nothing. The "
        "oracle recomputes all three version states from the source "
        "table, so a wrong resolution (off-by-one version, exclusive "
        "boundary) changes rows_at/total and hash-mismatches.",
    )
    def time_travel_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        o = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        cols = ["o_orderkey", "o_totalprice"]
        table = scratch_dir("time_travel_as_of")
        write_version(
            o.filter(k < 1000).select(cols), table, 0,
            commit_ts="2025-06-01 00:00:00.000000",
        )
        append_version(
            o.filter((k >= 1000) & (k < 1200)).select(cols), table, 1,
            commit_ts="2025-06-02 00:00:00.000000",
        )
        append_version(
            o.filter((k >= 1200) & (k < 1400)).select(cols), table, 2,
            commit_ts="2025-06-03 00:00:00.000000",
        )
        try:
            resolve_as_of(table, "2025-05-31 00:00:00")
            too_early = False  # should have raised
        except ValueError:
            too_early = True

        def probe(label: str, t: str) -> DataFrame:
            v = resolve_as_of(table, t)
            return read_as_of(spark, table, t).agg(
                F.lit(label).alias("probe"),
                F.lit(v).cast("bigint").alias("resolved_version"),
                F.count("*").alias("rows_at"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.lit(too_early).alias("too_early_raises"),
            )

        return (
            probe("mid_day1", "2025-06-01 12:00:00")
            .unionByName(probe("exact_v1_commit", "2025-06-02 00:00:00.000000"))
            .unionByName(probe("after_last", "2025-06-04 00:00:00"))
            .orderBy("resolved_version")
        )


_register_time_travel_as_of()


def rename_column(
    spark: SparkSession,
    table_path: str,
    version: int,
    old: str,
    new: str,
    commit_ts: str | None = None,
) -> dict:
    """ALTER TABLE ... RENAME COLUMN as a METADATA-ONLY commit (the
    Iceberg name-mapping / Delta column-mapping primitive): publish a
    manifest with an empty add/remove list and a ``rename`` entry — zero
    data files are read, written, or copied, so renaming a column on a
    100 TB table costs one manifest write. Reads apply the chain
    per-file (``_logical_read``): files written before the rename
    resolve their old physical name to the new logical name; files
    written after carry the new name natively; time travel to versions
    BEFORE this commit still presents the old name. RESTORE restores
    the live file set only — the rename chain is append-only table
    metadata and stays at its latest state (document parity: Delta's
    RESTORE also keeps the current table schema when column mapping is
    enabled).

    Refused (loudly, with the sanctioned path named) while any
    merge-on-read deletion vector is active: the DV's key column binding
    predates the rename -> ``purge_deletes`` first. Bloom indexes need
    NO guard: bitmaps hash rendered VALUES, not names, so they survive a
    rename of their column unchanged — ``read_point_lookup`` maps each
    entry's recorded column name through the rename chain exactly like
    the data files themselves.

    Returns {"version", "renamed", "data_files_written": 0}."""
    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    if not old or not new:
        raise ValueError("rename_column: old and new must be non-empty")
    if old == new:
        raise ValueError(f"rename_column: old == new ({old!r})")
    schema = _logical_schema_at(spark, log)
    cols = list(schema.names)
    if old not in cols:
        raise ValueError(
            f"rename_column: no column {old!r} at {table_path} "
            f"(columns: {cols})"
        )
    # Spark resolves column names case-insensitively by default, so a
    # rename differing only in case from an EXISTING column would make
    # every read ambiguous
    if any(c.lower() == new.lower() for c in cols if c != old):
        raise ValueError(
            f"rename_column: column {new!r} already exists at {table_path} "
            f"(case-insensitive; columns: {cols})"
        )
    _check_no_active_dvs(log, "rename_column")
    _commit_schema_event(
        table_path,
        version,
        {"rename": {"from": old, "to": new}},
        commit_ts,
        pre_schema=schema,
    )
    return {
        "version": version,
        "renamed": {"from": old, "to": new},
        "data_files_written": 0,
    }


def _commit_schema_event(
    table_path: str,
    version: int,
    extra: dict,
    commit_ts: str | None,
    pre_schema=None,
) -> None:
    """Shared tail of every metadata-only schema commit (rename/drop/
    retype): publish the presence hint FIRST (see _RENAME_HINT_PREFIX —
    a crash between the two leaves a harmless false-positive hint; the
    reverse order could leave a committed event invisible to the
    listing-based fast path), then put-if-absent the manifest. When the
    caller passes the validated pre-event ``pre_schema``, the schema
    cache is pre-populated for the NEW version by applying the event to
    it (the commit's purge runs first inside ``_commit``), so a chain
    of ALTERs never re-pays the footer pass the first validation paid."""
    _fs_for(table_path).put_if_absent_text(
        _join(table_path, f"{_RENAME_HINT_PREFIX}{version}.json"),
        json.dumps({"version": version}),
    )
    _commit(
        table_path, version, add=[], remove=[], commit_ts=commit_ts, extra=extra
    )
    if pre_schema is not None:
        _schema_cache_put(
            (table_path, version), _apply_event_to_schema(pre_schema, extra)
        )


def drop_column(
    spark: SparkSession,
    table_path: str,
    version: int,
    column: str,
    commit_ts: str | None = None,
) -> dict:
    """ALTER TABLE ... DROP COLUMN as a METADATA-ONLY commit (the
    Delta column-mapping ``DROP COLUMN`` / Iceberg ``drop_column``
    semantics): publish a manifest with an empty add/remove list and a
    ``drop`` entry — zero data files are read, written, or copied, so
    dropping a column on a 100 TB table costs one manifest write
    instead of a full-table rewrite. Reads apply the event per-file
    (``_logical_read``): files written before the drop project the
    column away at scan time; time travel to versions BEFORE this
    commit still presents it. A LATER writer may re-introduce the same
    name — that is a NEW column lineage (pre-drop files surface NULL
    for it), exactly Delta's re-add-after-drop behavior; the old
    values can never leak into the new lineage because the drop event
    sits between the two vintages' first-add versions. The physical
    bytes stay on disk until a compaction rewrites them (also the
    Delta/Iceberg posture — ``compact_files`` re-keys every file to
    the logical schema and retires the chain).

    Refused while any merge-on-read deletion vector is active (the
    DV's key binding predates the event — ``purge_deletes`` first),
    and for the table's last remaining column.

    Returns {"version", "dropped", "data_files_written": 0}."""
    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    if not column:
        raise ValueError("drop_column: column must be non-empty")
    schema = _logical_schema_at(spark, log)
    cols = list(schema.names)
    if column not in cols:
        raise ValueError(
            f"drop_column: no column {column!r} at {table_path} "
            f"(columns: {cols})"
        )
    if len(cols) < 2:
        raise ValueError(
            f"drop_column: {column!r} is the last column at {table_path}"
        )
    _check_no_active_dvs(log, "drop_column")
    _commit_schema_event(
        table_path,
        version,
        {"drop": {"column": column}},
        commit_ts,
        pre_schema=schema,
    )
    return {"version": version, "dropped": column, "data_files_written": 0}


_INT_WIDENING = ("tinyint", "smallint", "int", "bigint")
_TYPE_ALIASES = {
    "long": "bigint",
    "integer": "int",
    "short": "smallint",
    "byte": "tinyint",
}


def _widening_ok(cur: str, to: str) -> bool:
    """The Iceberg V2 / Delta type-widening whitelist: promotions where
    every physical value converts EXACTLY, so a read-side cast is pure
    metadata (integer up-casts, float->double, decimal precision growth
    at the same scale). Anything else changes values or can fail and
    must be a rewrite."""
    if cur in _INT_WIDENING and to in _INT_WIDENING:
        return _INT_WIDENING.index(to) > _INT_WIDENING.index(cur)
    if cur == "float" and to == "double":
        return True
    if cur.startswith("decimal(") and to.startswith("decimal("):
        import re

        mc = re.fullmatch(r"decimal\((\d+),(\d+)\)", cur)
        mt = re.fullmatch(r"decimal\((\d+),(\d+)\)", to)
        return (
            mc is not None
            and mt is not None
            and mc.group(2) == mt.group(2)
            and int(mt.group(1)) > int(mc.group(1))
        )
    return False


def retype_column(
    spark: SparkSession,
    table_path: str,
    version: int,
    column: str,
    new_type: str,
    commit_ts: str | None = None,
) -> dict:
    """ALTER TABLE ... ALTER COLUMN TYPE as a METADATA-ONLY commit,
    restricted to the Iceberg V2 / Delta type-WIDENING whitelist
    (integer up-casts, float->double, decimal precision growth at the
    same scale — promotions where every stored value converts exactly):
    publish a manifest with a ``retype`` entry; zero data files are
    touched. Reads apply ONE cast over the unioned logical frame
    (``_logical_read``), so old files surface the new type while files
    written after the event carry it natively (union-type coercion
    makes the cast a no-op for them); time travel to versions BEFORE
    this commit still presents the old type. Narrowing or cross-family
    conversions are refused with the rewrite path named — a lossy cast
    as metadata would silently corrupt values at read time.

    Refused while any merge-on-read deletion vector is active
    (``purge_deletes`` first).

    Returns {"version", "retyped": {"column", "from", "to"},
    "data_files_written": 0}."""
    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    schema = _logical_schema_at(spark, log)
    if column not in schema.names:
        raise ValueError(
            f"retype_column: no column {column!r} at {table_path} "
            f"(columns: {list(schema.names)})"
        )
    cur = schema[column].dataType.simpleString()
    to = new_type.strip().lower().replace(" ", "")
    to = _TYPE_ALIASES.get(to, to)
    if to == cur:
        raise ValueError(
            f"retype_column: {column!r} at {table_path} is already {cur}"
        )
    if not _widening_ok(cur, to):
        raise ValueError(
            f"retype_column: {cur} -> {to} is not a widening conversion; "
            f"only exact-value promotions (int up-casts, float->double, "
            f"decimal precision growth at the same scale) are metadata-"
            f"only. Rewrite instead: read_version + cast + write_version "
            f"(or compact_files after fixing the writers)."
        )
    _check_no_active_dvs(log, "retype_column")
    _commit_schema_event(
        table_path,
        version,
        {"retype": {"column": column, "from": cur, "to": to}},
        commit_ts,
        pre_schema=schema,
    )
    return {
        "version": version,
        "retyped": {"column": column, "from": cur, "to": to},
        "data_files_written": 0,
    }


def schema_history(
    table_path: str, version: int | None = None
) -> list[dict]:
    """The committed schema-event chain at ``version`` (default latest):
    ``[{"version", "kind", ...}]`` ascending — the DESCRIBE-style
    inspection surface over renames, drops and retypes together."""
    log = _Log(table_path)
    if version is None:
        version = log.latest
    out = []
    for v, kind, a, b in log.events(version):
        if kind == "rename":
            out.append({"version": v, "kind": kind, "from": a, "to": b})
        elif kind == "drop":
            out.append({"version": v, "kind": kind, "column": a})
        else:
            out.append({"version": v, "kind": kind, "column": a, "to": b})
    return out


def rename_history(
    table_path: str, version: int | None = None
) -> list[dict]:
    """The committed rename chain at ``version`` (default latest):
    ``[{"version", "from", "to"}]`` ascending — the DESCRIBE-style
    inspection surface for the column mapping."""
    log = _Log(table_path)
    if version is None:
        version = log.latest
    return [
        {"version": rv, "from": frm, "to": to}
        for rv, frm, to in _rename_triples(log.events(version))
    ]


def restore_version(
    table_path: str,
    restore_to: int,
    as_version: int,
    commit_ts: str | None = None,
) -> dict:
    """Commit ``as_version`` whose live content IS version ``restore_to``'s
    (the Delta RESTORE primitive): a PURE METADATA commit — the manifest
    re-adds the old version's file list and removes the current live set;
    no data file is read, written, or copied, because committed files are
    immutable and still on disk unless vacuumed (which the vacuum guard
    checks first — restoring a vacuumed version raises the clean 'was
    vacuumed' error). History keeps every intermediate version readable;
    an accidental DELETE/MERGE is undone by one manifest write at any
    table size.

    Merge-on-read interaction: the re-add bumps every restored file's
    GENERATION past older deletion vectors (see ``_Log``),
    which is exactly right when ``restore_to`` PRECEDES the MoR delete
    (the delete is undone). But when the restored-to state itself has
    an ACTIVE DV, a flat re-add would silently RESURRECT the masked
    rows — the restored view would not equal ``restore_to``'s. That
    case is refused (same flattening rule as the clones); restore the
    materialized view instead: ``read_with_deletes`` at ``restore_to``
    + ``write_version`` (a data-copying restore), or ``purge_deletes``
    going forward so later restore points are DV-free."""
    log = _check_commit_order(table_path, as_version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    if restore_to not in log.versions:
        raise ValueError(
            f"version {restore_to} not in {log.versions} at {table_path}"
        )
    target_files = log.live(restore_to)
    log.check_not_vacuumed(restore_to, target_files)
    dvs = _masking_dvs(log, restore_to, target_files)
    if dvs:
        raise ValueError(
            f"version {restore_to} at {table_path} has active deletion "
            f"vectors (commits {dvs}); a pure-metadata restore would "
            f"resurrect the masked rows — restore the materialized "
            f"view (read_with_deletes + write_version) or "
            f"purge_deletes first"
        )
    prev_live = log.live(log.latest)
    _check_restore_rename_collisions(log, target_files, restore_to)
    # add back exactly the restored set; remove what is live now. Files in
    # BOTH sets would be removed-then-re-added by the replay algebra
    # (remove applies before add within one manifest), so they stay live.
    _commit(
        table_path,
        as_version,
        add=target_files,
        remove=prev_live,
        commit_ts=commit_ts,
    )
    return {
        "restored_to": restore_to,
        "as_version": as_version,
        "files_readded": len(target_files),
        "data_files_written": 0,
    }


def _check_restore_rename_collisions(
    log: _Log, target_files: list[str], restore_to: int
) -> None:
    """Name-based column mapping's one restore hazard (round-9 advisor
    finding): ``rename_column`` validates its target against the LIVE
    columns at rename time, so a file that was DEAD then may physically
    contain the rename's target name — restoring such a file would
    surface its old values under the renamed column's logical name
    (silent wrong attribution; with both old names present, a duplicate
    column). Refuse the pure-metadata restore for exactly those files:
    resurrected files first-added BEFORE a rename but NOT LIVE when it
    committed, whose physical columns (manifest footer stats + a local
    parquet-footer probe, best effort) collide case-insensitively with
    the rename target. Typical restores pay nothing: files live at the
    rename were validated by it, so the risky set is empty and no
    footer is touched."""
    renames = _rename_triples(log.events(log.latest))
    if not renames:
        return
    first_add = log.fold(log.latest, "first_add")
    spans = log.fold(log.latest, "spans")
    stats = log.fold(log.latest, "stats")
    for rv, _frm, to in renames:
        if rv <= 0:
            continue
        # live at the rename's PREDECESSOR commit — the state whose
        # columns the rename's validation actually saw
        prev = max((v for v in log.versions if v < rv), default=None)
        risky = [
            f
            for f in target_files
            if first_add.get(f, restore_to) < rv
            and (prev is None or not _live_at(spans.get(f, []), prev))
        ]
        for f in risky:
            phys = {c.lower() for c in stats.get(f, {})}
            lp = _local_path(_join(log.path, f))
            if lp is not None:
                try:
                    import pyarrow.parquet as pq

                    phys.update(
                        n.split(".")[0].lower()
                        for n in pq.ParquetFile(lp).schema_arrow.names
                    )
                except Exception:
                    pass
            if to.lower() in phys:
                raise ValueError(
                    f"restore would resurrect file {f!r} (first added at "
                    f"version {first_add.get(f, restore_to)}, dead when "
                    f"rename commit {rv} targeted {to!r}) whose physical "
                    f"columns include {to!r} — its old values would "
                    f"surface under the renamed column. Restore the "
                    f"materialized view instead (read_version at "
                    f"{restore_to} + write_version), or compact_files "
                    f"first."
                )


def _register_time_travel_restore() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_restore",
        oracle="""
        WITH v0 AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1000
        ), v1 AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1200
        ), v2 AS (
          SELECT * FROM v1 WHERE o_orderkey % 10 != 3
        )
        SELECT CAST(2 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS rows_at,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
               TRUE AS metadata_only
        FROM v2
        UNION ALL
        SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), TRUE
        FROM v1
        ORDER BY version
        """,
        doc="RESTORE over file-level manifests (restore_version — the Delta "
        "RESTORE primitive on the same commit algebra as A25): v0 commits "
        "orders below 1000, v1 appends 1000-1199, v2 DELETEs keys ending "
        "in 3, and v3 RESTORES v1 — a pure metadata commit re-adding v1's "
        "file list (metadata_only hash-asserts the restore wrote ZERO "
        "data files and every re-added file already existed on disk "
        "before the restore). Output: the damaged state (v2) and the "
        "restored state (v3 == v1's content, recomputed independently by "
        "the oracle). A wrong add/remove algebra (restored files dropped "
        "by their own remove entry) would flip rows_at and hash-mismatch; "
        "the intermediate v2 stays readable as history.",
    )
    def time_travel_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os as _os

        from dodo_spark.operators.schema import scratch_dir

        o = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        cols = ["o_orderkey", "o_totalprice"]
        table = scratch_dir("time_travel_restore")
        write_version(o.filter(k < 1000).select(cols), table, 0)
        append_version(
            o.filter((k >= 1000) & (k < 1200)).select(cols).coalesce(1), table, 1
        )
        v1_files = set(live_files(table, 1))
        delete_where(spark, table, 2, "o_orderkey % 10 = 3")

        mtimes_before = {
            f: _os.path.getmtime(_os.path.join(table, f)) for f in v1_files
        }
        stats = restore_version(table, restore_to=1, as_version=3)
        metadata_only = (
            stats["data_files_written"] == 0
            and set(live_files(table, 3)) == v1_files
            and all(
                _os.path.getmtime(_os.path.join(table, f)) == m
                for f, m in mtimes_before.items()
            )
        )

        def snap_agg(version: int) -> DataFrame:
            return read_version(spark, table, version).agg(
                F.lit(version).cast("bigint").alias("version"),
                F.count("*").alias("rows_at"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.lit(metadata_only).alias("metadata_only"),
            )

        return snap_agg(2).unionByName(snap_agg(3)).orderBy("version")


_register_time_travel_restore()


def _register_materialized_agg_refresh() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "materialized_agg_refresh",
        oracle="""
        WITH final AS (
          SELECT o_custkey, o_totalprice FROM orders
          WHERE o_orderkey < 2400
            AND NOT (o_orderkey >= 1600 AND o_orderkey % 10 = 7)
        ), state AS (
          SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt,
                 SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
          FROM final GROUP BY o_custkey
        )
        SELECT CAST(o_custkey % 25 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS orders_cnt,
               CAST(SUM(total) AS DOUBLE) AS total,
               TRUE AS delta_bounded
        FROM state GROUP BY bucket ORDER BY bucket
        """,
        doc="Incremental materialized-aggregate maintenance over the "
        "versioned commit log (the Delta/Iceberg incremental-ETL "
        "pattern; same commit algebra as time_travel_incremental, "
        "consumed through read_changes): a per-custkey (count, "
        "DECIMAL-sum) state is built from v0, then REFRESHED through "
        "three commits — two appends and a row-level DELETE — by "
        "reading ONLY each commit's own add/remove files and merging "
        "signed deltas (removed rows enter with negated multiplicity, "
        "the classic retraction algebra) into the persisted state via a "
        "key-partitioned merge. No refresh ever re-reads the base "
        "table: at 100 TB a 1% append costs 1% I/O + a state-sized "
        "merge, where a full recompute costs the table. DECIMAL "
        "accumulation keeps add-then-retract exact, so the maintained "
        "state is bit-identical to the from-scratch oracle. The "
        "delta_bounded contract asserts the append manifests removed "
        "nothing and the DELETE rewrote only the appended range's "
        "files. Output: the final state folded to 25 custkey buckets.",
    )
    def materialized_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        root = scratch_dir("materialized_agg_refresh")
        tbl = _join(root, "tbl")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        k = F.col("o_orderkey")
        write_version(o.filter(k < 800), tbl, 0)
        append_version(o.filter((k >= 800) & (k < 1600)), tbl, 1)
        append_version(o.filter((k >= 1600) & (k < 2400)), tbl, 2)
        delete_where(
            spark, tbl, 3, "o_orderkey >= 1600 AND o_orderkey % 10 = 7"
        )

        def delta(df: DataFrame, sign: int) -> DataFrame:
            return df.groupBy("o_custkey").agg(
                (F.lit(sign) * F.count("*")).cast("bigint").alias("cnt"),
                # widen to (38,4) like operators/incremental.py's
                # merge_view_state: narrowing an accumulated sum back to
                # the per-row precision silently NULLs past 1e14 under
                # non-ANSI Spark
                (
                    F.lit(sign)
                    * F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                )
                .cast("decimal(38,4)")
                .alias("total"),
            )

        # per-version keyed state is bounded (one row per touched
        # custkey): an EAGER localCheckpoint materializes each refresh
        # step and truncates lineage — same incremental-maintenance
        # property as the old state-as-scratch-parquet form without the
        # per-step parquet write + committer + read-back round-trip
        # (r13; the VERSIONED commits, the demonstration, are untouched;
        # operators/incremental.py made the same change). Fault-tolerance
        # caveat (r13 advisor): checkpoint blocks live in executor
        # storage, so an executor loss on a real cluster makes
        # mid-refresh state unrecoverable (the parquet form survived) —
        # local-mode safe; at warehouse scale use reliable checkpoint /
        # table-backed state.
        state = None
        for v in sorted(list_versions(tbl)):
            added, removed = read_changes(spark, tbl, v)
            parts = []
            if state is not None:
                parts.append(state)
            if added is not None:
                parts.append(delta(added, 1))
            if removed is not None:
                parts.append(delta(removed, -1))
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p)
            state = (
                merged.groupBy("o_custkey")
                .agg(
                    F.sum("cnt").cast("bigint").alias("cnt"),
                    F.sum("total").cast("decimal(38,4)").alias("total"),
                )
                .filter(F.col("cnt") > 0)
                .localCheckpoint()
            )

        m1, m2, m3 = (_read_manifest(tbl, v) for v in (1, 2, 3))
        bounded = (
            not m1.get("remove")
            and not m2.get("remove")
            and set(m3.get("remove") or []) <= set(m2.get("add") or [])
        )
        return (
            state
            .groupBy((F.col("o_custkey") % 25).cast("bigint").alias("bucket"))
            .agg(
                F.count("*").alias("n_keys"),
                F.sum("cnt").cast("bigint").alias("orders_cnt"),
                F.sum("total").cast("double").alias("total"),
                F.lit(bounded).alias("delta_bounded"),
            )
            .orderBy("bucket")
        )


_register_materialized_agg_refresh()


def _clone_preflight(
    source_path: str, target_path: str, version: int | None
) -> tuple[list[int], int, list[str]]:
    """Shared clone validation (shallow + deep): resolve the source
    version, check it is unvacuumed, refuse ACTIVE deletion vectors (a
    clone's flat v0 manifest cannot carry them — the sequencing rule
    keys off per-file add versions, which flattening destroys, so the
    clone would silently resurrect every MoR-deleted row; purge first),
    refuse a rename chain (the clone's flat v0 has no rename manifests,
    so the physically mixed column names would surface raw; compact
    first — it re-keys every file to the logical schema), and require
    an empty target. Returns (source log, version, files)."""
    log = _Log(source_path)
    if not log.versions:
        raise ValueError(f"no committed versions at {source_path}")
    if version is None:
        version = log.latest
    files = log.live(version)
    events = log.events(version)
    if events:
        # refuse only when some live file actually NEEDS the chain (was
        # first-added before a rename/drop/retype); after a compaction
        # every live file is physically keyed to the logical schema and
        # the flat clone is faithful
        first_add = log.fold(version, "first_add")
        if any(
            ev > first_add.get(f, version)
            for f in files
            for ev, _k, _a, _b in events
        ):
            raise ValueError(
                f"version {version} at {source_path} has live files "
                f"written under pre-schema-change physical columns "
                f"(rename/drop/retype); a flat clone would surface them "
                f"raw — run compact_files first (re-keys every file to "
                f"the logical schema), then clone"
            )
    log.check_not_vacuumed(version, files)
    dvs = _masking_dvs(log, version, files)
    if dvs:
        raise ValueError(
            f"version {version} at {source_path} has active deletion "
            f"vectors (commits {dvs}); run purge_deletes first, then clone"
        )
    if list_versions(target_path):
        raise ValueError(f"target {target_path} already has commits")
    return log, version, files


def shallow_clone(
    source_path: str, target_path: str, version: int | None = None
) -> dict:
    """Zero-copy clone (the Delta SHALLOW CLONE primitive): commit a new
    table at ``target_path`` whose v0 manifest references the SOURCE's
    live data files by absolute path — pure metadata, so cloning a
    100 TB table costs one manifest write. The clone is independently
    appendable/deletable (its own commits write under its own root and
    rewrites copy-on-write the referenced files), and the source never
    sees the clone's commits. Caveat (same as Delta's): a VACUUM on the
    SOURCE can sweep files the clone still references — pin or deep-copy
    before vacuuming a cloned-from table. Returns {"files_referenced",
    "version"}. Absolute refs work because ``_join`` resolves an
    absolute member path as-is on every FS shim."""
    _log, version, files = _clone_preflight(source_path, target_path, version)
    abs_refs = [_join(source_path, f) for f in files]
    _commit(target_path, 0, add=abs_refs, remove=[])
    return {"files_referenced": len(abs_refs), "version": 0}


def deep_clone(
    source_path: str, target_path: str, version: int | None = None
) -> dict:
    """DEEP CLONE (the Delta CLONE DEEP primitive, closing
    shallow_clone's documented foot-gun): byte-copy the source
    version's live files under the TARGET's own root and commit a
    self-contained v0 manifest — the clone survives any later vacuum or
    deletion of the source. The copy is a pure file-level operation
    through the FS shim (shutil / Hadoop FileUtil.copy / S3 server-side
    CopyObject — zero data through the driver on an object store), no
    Spark job and no rewrite, so parquet footers (and therefore the
    re-harvested manifest stats) are bit-identical to the source's.
    Any manifest bloom-index entries covering the copied files carry
    over (bitmaps depend only on file bytes). Same active-DV refusal as
    shallow_clone — a flat v0 cannot represent merge-on-read deletes.
    Returns {"files_copied", "version"}."""
    src_scheme, tgt_scheme = _path_scheme(source_path), _path_scheme(target_path)
    if src_scheme != tgt_scheme:
        # one shim performs both ends of fs.copy; a plain-local source
        # with an s3:// target (or vice versa) would otherwise die deep
        # inside _s3_uri_to_key / shutil with a misleading traceback
        raise ValueError(
            f"deep_clone requires source and target on the same filesystem "
            f"scheme; got {src_scheme!r} ({source_path}) vs {tgt_scheme!r} "
            f"({target_path}). Copy across stores with a distcp-style job, "
            f"then add_external_files / convert."
        )
    log, version, files = _clone_preflight(source_path, target_path, version)
    # the clone's one index carries the entries built with the newest
    # index's parameters: a bitmap read under other m_bits/k would be
    # misread (silent false negatives)
    index, entries = _bloom_at(log, version)
    fs = _fs_for(target_path)
    add: list[str] = []
    carried_blooms: dict[str, str] = {}
    for i, f in enumerate(sorted(files)):
        base = f.rsplit("/", 1)[-1]
        rel = f"v=0/deep-{i:05d}-{base}"
        fs.copy(_join(source_path, f), _join(target_path, rel))
        add.append(rel)
        if f in entries and entries[f][1:] == index:
            carried_blooms[rel] = entries[f][0]
    extra = None
    if carried_blooms:
        # PARTIAL carry is fine: read_point_lookup's never-skip-blind
        # rule scans files without entries, so the clone behaves exactly
        # like the source (dropping the whole index would instead turn a
        # working lookup into a hard 'no bloom index' error)
        col, m_bits, k = index
        extra = {
            "bloom_index": {
                "col": col, "m_bits": m_bits, "k": k,
                "files": carried_blooms,
            }
        }
    _commit(target_path, 0, add=add, remove=[], extra=extra)
    return {"files_copied": len(add), "version": 0}


def add_external_files(
    table_path: str, version: int, files: list[str]
) -> dict:
    """Zero-copy CONVERT/import (the Iceberg ``add_files`` / Delta
    CONVERT TO DELTA primitive): commit ``version`` as an APPEND whose
    manifest references EXISTING parquet files by absolute path — no
    data is read, rewritten, or copied, so onboarding 100 TB of plain
    parquet into the versioned layer costs one manifest write. The
    files must be absolute (or fully qualified) and are NOT owned by
    the table: vacuum never deletes cross-root refs (same rule as
    shallow_clone), and deleting the originals out from under the
    table breaks reads exactly like vacuuming a clone source would.
    Returns {"files_added"}."""
    _check_commit_order(table_path, version)
    bad = [f for f in files if not (f.startswith("/") or "://" in f)]
    if bad:
        raise ValueError(
            f"add_external_files takes absolute/fully-qualified paths; "
            f"got {bad[:3]}"
        )
    _commit(table_path, version, add=[_canon_file_ref(f) for f in files], remove=[])
    return {"files_added": len(files)}


def _register_time_travel_add_files() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table, table_path as _table_path
    from dodo_spark.registry import register

    @register(
        "time_travel_add_files",
        oracle="""
        WITH ext AS (
          SELECT o_custkey, o_totalprice FROM orders
        ), extra AS (
          SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey < 500
        ), combined AS (
          SELECT * FROM ext UNION ALL SELECT * FROM extra
        )
        SELECT 'converted' AS side, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total, TRUE AS zero_copy
        FROM ext
        UNION ALL
        SELECT 'after_append', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
               TRUE
        FROM combined
        ORDER BY side
        """,
        doc="Zero-copy CONVERT of existing parquet into the versioned "
        "layer (the Iceberg add_files / Delta CONVERT primitive): the "
        "driver's own orders.parquet registers as v0 by absolute "
        "reference — ONE manifest write, no data copied (zero_copy "
        "asserts no parquet exists under the table root at v0) — and "
        "the converted table is immediately a first-class versioned "
        "table: v1 appends normally and time travel, snapshots, and "
        "the commit protocol all apply. At 100 TB this is the "
        "onboarding path that costs metadata instead of a rewrite.",
    )
    def time_travel_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os as _os

        from dodo_spark.operators.schema import scratch_dir

        tbl = _join(scratch_dir("time_travel_add_files"), "tbl")
        src = _table_path(sf_dir, "orders")
        files = (
            sorted(
                _os.path.join(src, f)
                for f in _os.listdir(src)
                if f.endswith(".parquet")
            )
            if _os.path.isdir(src)
            else [src]
        )
        add_external_files(tbl, 0, files)
        fs = _fs_for(tbl)
        local_parquet = [
            f for f in fs.list_files_recursive(tbl) if f.endswith(".parquet")
        ]
        zero_copy = not local_parquet

        o = load_table(spark, sf_dir, "orders")
        append_version(
            o.filter(F.col("o_orderkey") < 500).select(
                "o_custkey", "o_totalprice"
            ),
            tbl,
            1,
        )

        def agg(df: DataFrame, side: str) -> DataFrame:
            return df.agg(
                F.lit(side).alias("side"),
                F.count("*").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.lit(zero_copy).alias("zero_copy"),
            )

        sel = ["o_custkey", "o_totalprice"]
        return (
            agg(read_version(spark, tbl, 1).select(sel), "after_append")
            .unionByName(agg(read_version(spark, tbl, 0).select(sel), "converted"))
            .orderBy("side")
        )


_register_time_travel_add_files()


def _register_time_travel_clone() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_clone",
        oracle="""
        WITH src AS (
          SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey < 900
        ), extra AS (
          SELECT o_custkey, o_totalprice FROM orders
          WHERE o_orderkey >= 900 AND o_orderkey < 1100
        ), combined AS (
          SELECT * FROM src UNION ALL SELECT * FROM extra
        )
        SELECT 'clone' AS side, CAST(COUNT(*) AS BIGINT) AS rows_at,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total, TRUE AS zero_copy, TRUE AS source_isolated
        FROM src
        UNION ALL
        SELECT 'clone_after_append', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
               TRUE, TRUE
        FROM combined
        UNION ALL
        SELECT 'source', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
               TRUE, TRUE
        FROM src
        ORDER BY side
        """,
        doc="Zero-copy shallow clone of a versioned table (the Delta "
        "SHALLOW CLONE / dev-test-snapshot primitive): the clone's v0 "
        "manifest references the source's live files — one metadata "
        "write at ANY table size, no data copied (the zero_copy "
        "contract asserts no data file exists under the clone's root "
        "after cloning). The clone then takes an independent APPEND; "
        "the source_isolated contract asserts the source's live set and "
        "row count are untouched by it. Output: aggregates of source, "
        "clone, and appended clone, recomputed by the oracle from the "
        "base table.",
    )
    def time_travel_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        root = scratch_dir("time_travel_clone")
        src, tgt = _join(root, "src"), _join(root, "clone")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        k = F.col("o_orderkey")
        write_version(o.filter(k < 900), src, 0)
        src_live_before = set(live_files(src, 0))

        out = shallow_clone(src, tgt)
        fs = _fs_for(tgt)
        clone_local_data = [
            f for f in fs.list_files_recursive(tgt) if f.endswith(".parquet")
        ]
        zero_copy = out["files_referenced"] > 0 and not clone_local_data

        append_version(
            o.filter((k >= 900) & (k < 1100)).select(
                "o_custkey", "o_totalprice"
            ),
            tgt,
            1,
        )
        source_isolated = (
            set(live_files(src, 0)) == src_live_before
            and list_versions(src) == [0]
        )

        def agg(df: DataFrame, side: str) -> DataFrame:
            return df.agg(
                F.lit(side).alias("side"),
                F.count("*").alias("rows_at"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.lit(zero_copy).alias("zero_copy"),
                F.lit(source_isolated).alias("source_isolated"),
            )

        sel = ["o_custkey", "o_totalprice"]
        return (
            agg(read_version(spark, tgt, 0).select(sel), "clone")
            .unionByName(
                agg(read_version(spark, tgt, 1).select(sel), "clone_after_append")
            )
            .unionByName(agg(read_version(spark, src, 0).select(sel), "source"))
            .orderBy("side")
        )


_register_time_travel_clone()



def _register_time_travel_schema_evolution() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_schema_evolution",
        oracle="""
        WITH sim AS (
          SELECT o_orderkey, o_totalprice,
                 CASE WHEN o_orderkey >= 1000 THEN o_orderpriority END
                   AS o_orderpriority
          FROM orders WHERE o_orderkey < 1500
        )
        SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS prio,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total,
               CAST(3 AS BIGINT) AS v0_n_cols,
               CAST(4 AS BIGINT) AS v1_n_cols,
               'bigint' AS v4_ship_type,
               (SELECT CAST(SUM(o_orderkey % 5) AS BIGINT) FROM orders
                WHERE o_orderkey < 1500) AS ship_sum,
               CAST(3 AS BIGINT) AS v5_n_cols,
               TRUE AS drop_retype_metadata_only
        FROM sim GROUP BY 1 ORDER BY 1
        """,
        doc="Schema evolution through the versioned commit log — all four "
        "legs metadata-only. ADDITIVE leg (the Delta/Iceberg add-column "
        "semantics read_version implements via mergeSchema): v0 commits "
        "three columns, v1 APPENDS rows carrying a fourth "
        "(o_orderpriority) without rewriting any v0 file; reading unions "
        "by name — pre-evolution rows surface NULL for the new column "
        "(grouped here as '<pre-evolution>') — while time travel to v0 "
        "still presents exactly the original schema (v0_n_cols/"
        "v1_n_cols measured from the actual read schemas, oracle-"
        "pinned). RENAME leg (Iceberg name-mapping / Delta column-"
        "mapping): v2 renames o_totalprice -> total_price and v3 "
        "renames it back — the whole aggregate is computed from the "
        "read AT v2, whose total_price column is resolved per-file "
        "across both physical vintages, so the value hash crossing the "
        "rename must equal the never-renamed oracle. RETYPE leg: v4 "
        "widens ship_pri int -> bigint as a read-side cast "
        "(retype_column; v4_ship_type measures the read schema and "
        "ship_sum the values THROUGH the widening). DROP leg: v5 drops "
        "ship_pri (drop_column; v5_n_cols measures the shrunk schema). "
        "drop_retype_metadata_only pins from the manifests that v2..v5 "
        "added and removed ZERO data files — at 100 TB each of these "
        "four schema changes costs one manifest write, not a table "
        "rewrite.",
    )
    def time_travel_schema_evolution(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        tbl = _join(scratch_dir("time_travel_schema_evolution"), "tbl")
        o = load_table(spark, sf_dir, "orders").withColumn(
            "ship_pri", (F.col("o_orderkey") % 5).cast("int")
        )
        k = F.col("o_orderkey")
        write_version(
            o.filter(k < 1000).select(
                "o_orderkey", "o_totalprice", "ship_pri"
            ),
            tbl,
            0,
        )
        append_version(
            o.filter((k >= 1000) & (k < 1500)).select(
                "o_orderkey", "o_totalprice", "ship_pri", "o_orderpriority"
            ),
            tbl,
            1,
        )
        # metadata-only rename round-trip: v2 renames, v3 renames back
        rename_column(spark, tbl, 2, "o_totalprice", "total_price")
        rename_column(spark, tbl, 3, "total_price", "o_totalprice")
        # metadata-only widen + drop
        retype_column(spark, tbl, 4, "ship_pri", "bigint")
        drop_column(spark, tbl, 5, "ship_pri")
        v0_n_cols = len(read_version(spark, tbl, 0).columns)
        v1_n_cols = len(read_version(spark, tbl, 1).columns)
        at4 = read_version(spark, tbl, 4)
        v4_ship_type = at4.schema["ship_pri"].dataType.simpleString()
        ship_sum = at4.agg(
            F.sum("ship_pri").cast("bigint").alias("s")
        ).first()["s"]
        v5_n_cols = len(read_version(spark, tbl, 5).columns)
        metadata_only = all(
            not _read_manifest(tbl, v).get("add")
            and not _read_manifest(tbl, v).get("remove")
            for v in (2, 3, 4, 5)
        )
        # read AT the renamed version: files from BOTH physical vintages
        # resolve to the logical name total_price
        mid = read_version(spark, tbl, 2)
        return (
            mid.groupBy(
                F.coalesce(
                    F.col("o_orderpriority"), F.lit("<pre-evolution>")
                ).alias("prio")
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("total_price").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.lit(v0_n_cols).cast("bigint").alias("v0_n_cols"),
                F.lit(v1_n_cols).cast("bigint").alias("v1_n_cols"),
                F.lit(v4_ship_type).alias("v4_ship_type"),
                F.lit(ship_sum).cast("bigint").alias("ship_sum"),
                F.lit(v5_n_cols).cast("bigint").alias("v5_n_cols"),
                F.lit(metadata_only).alias("drop_retype_metadata_only"),
            )
            .orderBy("prio")
        )


_register_time_travel_schema_evolution()


def _register_time_travel_deep_clone() -> None:
    from pyspark.sql import functions as F

    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register

    @register(
        "time_travel_deep_clone",
        oracle="""
        WITH src AS (
          SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey < 900
        )
        SELECT 'clone_before' AS side, CAST(COUNT(*) AS BIGINT) AS rows_at,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total, TRUE AS survives_source_destruction
        FROM src
        UNION ALL
        SELECT 'clone_after_source_destroyed', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
               TRUE
        FROM src
        ORDER BY side
        """,
        doc="DEEP CLONE (the Delta CLONE DEEP primitive, closing the "
        "shallow clone's documented foot-gun): the source version's "
        "live files are BYTE-COPIED under the clone's own root through "
        "the FS shim (shutil / Hadoop FileUtil.copy / S3 server-side "
        "CopyObject — zero data through the driver on an object store; "
        "no Spark rewrite, so footers and manifest stats are "
        "bit-identical). The key then VACUUMS the source down to a "
        "later version and DELETES the source tree entirely; "
        "survives_source_destruction pins that the clone's read "
        "returns the identical aggregate afterwards — the exact "
        "scenario that bricks a shallow clone. The oracle recomputes "
        "both sides from the base table.",
    )
    def time_travel_deep_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
        import shutil

        from dodo_spark.operators.schema import scratch_dir

        root = scratch_dir("time_travel_deep_clone")
        src, dst = _join(root, "src"), _join(root, "dst")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        write_version(o.filter(F.col("o_orderkey") < 900), src, 0)
        # a later source commit so vacuum(keep=1) drops v0's files
        write_version(o.filter(F.col("o_orderkey") < 10), src, 1)
        deep_clone(src, dst, version=0)

        def agg(side: str) -> DataFrame:
            return read_version(spark, dst, 0).agg(
                F.lit(side).alias("side"),
                F.count("*").cast("bigint").alias("rows_at"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
            )

        before = agg("clone_before").localCheckpoint(eager=True)
        vacuum(src, keep_versions=1)
        shutil.rmtree(src)  # scratch dir: the test's own source tree
        after = agg("clone_after_source_destroyed")
        return (
            before.unionByName(after)
            .withColumn("survives_source_destruction", F.lit(True))
            .orderBy("side")
        )


_register_time_travel_deep_clone()
