"""File discovery — the reference's "policy" listing layer, as a DataFrame.

Reference behavior being matched (policy/AbstractPolicy.java):
- recursive listing of one or more URIs (:157-196);
- regex filter applied to the file *name*, not the full path (:54,:171 —
  ``Pattern.matcher(file.getName()).find()``);
- dynamic URI templating ``${yyyy}/${MM}/${dd}`` expanded at trigger time
  (:94-110, Java DateTimeFormatter patterns);
- empty files filtered out by the task, not the listing
  (FsSourceTask.java:126) — the engine applies ``length > 0``.

Listing is driver-side (exactly as in the reference and in Spark's own
FileStreamSource); the result becomes a small DataFrame that is anti-joined
against the watermark table. At 100 TB the per-trigger listing is bounded by
the source directory churn, not table size — and the downstream read is
fully distributed.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import stat as statmod
from dataclasses import dataclass

import pyarrow.fs as pafs

# Java DateTimeFormatter pattern → strftime (the subset the reference's docs
# exercise: docs/source/policies.rst dynamic-URI examples).
_JAVA_TO_STRFTIME = [
    ("yyyy", "%Y"),
    ("yy", "%y"),
    ("MM", "%m"),
    ("dd", "%d"),
    ("HH", "%H"),
    ("mm", "%M"),
    ("ss", "%S"),
    ("DDD", "%j"),
    ("EEE", "%a"),
]

_TEMPLATE_RE = re.compile(r"\$\{([^}]+)\}")


def expand_dynamic_uri(uri: str, now: dt.datetime | None = None) -> str:
    """Expand ``${yyyy}``-style date templates (AbstractPolicy.java:94-110).

    Default clock is LOCAL wall time, matching the reference's
    ``LocalDateTime.now()`` (:96) — producers writing date-partitioned
    directories almost always do so in server-local time, and a UTC
    default would point at yesterday's partition for part of every day
    east of Greenwich. Pass an explicit (zone-aware) ``now`` to pin it."""
    if now is None:
        now = dt.datetime.now()

    def repl(m: re.Match) -> str:
        pat = m.group(1)
        out = pat
        for java, strf in _JAVA_TO_STRFTIME:
            out = out.replace(java, strf)
        if out == pat and not re.search(r"%", out):
            raise ValueError(f"cannot convert dynamic URI pattern: {pat!r}")
        return now.strftime(out)

    return _TEMPLATE_RE.sub(repl, uri)


@dataclass(frozen=True)
class FileMeta:
    """Reference: file/FileMetadata.java:6-15 (path, length) + mtime."""

    path: str
    length: int
    mtime: float


# One FileSystem per scheme://authority, like the reference's one Hadoop
# FileSystem per URI (AbstractPolicy.java:78-92): every per-file stat,
# open, move and delete resolves its path through ``fs_of``, so local
# paths run exactly the pyarrow code remote ones do.
_LOCAL = pafs.LocalFileSystem()
# scheme://authority -> (client, length of the URI prefix it strips)
_REMOTE: dict[str, tuple[pafs.FileSystem, int]] = {}


def fs_of(path: str, bare: pafs.FileSystem | None = None) -> tuple[pafs.FileSystem, str]:
    """The pyarrow FileSystem holding ``path``, and the path inside it.

    A path with no scheme lives on ``bare`` when given, else on the one
    LocalFileSystem ``file://`` paths share too: a bare cleanup_move_dir
    resolves against its source's filesystem, as a Hadoop Path with no
    scheme does in the reference's ``fs.rename``. Any other scheme builds
    its client once per scheme://authority: a fresh S3/HDFS client per call
    would pay connection setup per file. Tests substitute a fake remote FS
    here."""
    scheme, sep, rest = path.partition("://")
    if not sep:
        return bare or _LOCAL, path
    if scheme == "file":
        return _LOCAL, rest
    authority = f"{scheme}://{rest.split('/', 1)[0]}"
    client = _REMOTE.get(authority)
    if client is None:
        # from_uri strips a fixed prefix per scheme://authority ("s3://"
        # keeps the bucket in the path, "hdfs://nn:port" drops the
        # authority): measure it once on a probe path
        probe = authority + "/_"
        fs, sub = pafs.FileSystem.from_uri(probe)
        client = _REMOTE[authority] = (fs, len(probe) - len(sub))
    fs, strip = client
    return fs, path[strip:]


def stat(path: str) -> FileMeta | None:
    """Size and mtime of the file at ``path``; None only when it is missing
    or not a regular file. Every other error propagates: reading a
    transient failure as "vanished" would purge the file's offsets and ack
    its discovery message, so its unread tail would never be offered
    again."""
    fs, sub = fs_of(path)
    try:
        info = fs.get_file_info(sub)
    except FileNotFoundError:
        return None
    if info.type != pafs.FileType.File:
        return None
    return FileMeta(path, info.size, (info.mtime_ns or 0) / 1e9)


def _hidden(name: str) -> bool:
    # Hadoop/Spark convention: '_'-/'.'-prefixed files are metadata
    # (_SUCCESS, .crc, ._COPYING_ — the reference also excludes in-flight
    # ._COPYING_ files, HdfsFileWatcherPolicy.java:150)
    return name.startswith(".") or name.startswith("_")


def list_files(
    uris: list[str] | str,
    regexp: str = ".*",
    recursive: bool = True,
    now: dt.datetime | None = None,
    include_hidden: bool = False,
) -> list[FileMeta]:
    """List files under each URI, filtering by regex on the file *name*.

    Local paths walk with os.scandir, other schemes (hdfs://, s3://) with
    a pyarrow FileSelector. The local walk stays its own: on
    LocalFileSystem a recursive FileSelector follows symlinked
    directories (a ``..`` link lists one file under dozens of paths),
    while ``_list_local`` never descends into one.
    """
    if isinstance(uris, str):
        uris = [uris]
    pat = re.compile(regexp)
    out: list[FileMeta] = []
    for uri in uris:
        uri = expand_dynamic_uri(uri, now)
        fs, sub = fs_of(uri)
        if fs is _LOCAL:
            out.extend(_list_local(sub, pat, recursive, include_hidden))
        else:
            out.extend(_list_pyarrow(fs, uri, sub, pat, recursive, include_hidden))
    # stable order: the reference iterates listing order; we pin path order
    # so batching (take-first-N files per trigger) is deterministic.
    return sorted(out, key=lambda f: f.path)


def _list_local(root: str, pat: re.Pattern, recursive: bool, include_hidden: bool = False) -> list[FileMeta]:
    out: list[FileMeta] = []
    if not os.path.exists(root):
        return out
    if os.path.isfile(root):
        st = os.stat(root)
        if pat.search(os.path.basename(root)):
            out.append(FileMeta(root, st.st_size, st.st_mtime))
        return out
    stack = [root]
    while stack:
        d = stack.pop()
        try:
            entries = list(os.scandir(d))
        except FileNotFoundError:
            continue
        for e in entries:
            if e.is_dir(follow_symlinks=False):
                # do not descend into hidden/staging dirs either
                # (_temporary/... attempt files have non-hidden basenames)
                if recursive and (include_hidden or not _hidden(e.name)):
                    stack.append(e.path)
            else:
                if not include_hidden and _hidden(e.name):
                    continue
                try:
                    st = e.stat()
                except (FileNotFoundError, OSError):
                    # vanished between scandir and stat (our own cleanup,
                    # rotation, a dangling symlink): skip the entry, never
                    # abort the whole discovery sweep
                    continue
                if statmod.S_ISREG(st.st_mode) and pat.search(e.name):
                    out.append(FileMeta(e.path, st.st_size, st.st_mtime))
    return out


def _list_pyarrow(
    fs: pafs.FileSystem, uri: str, path: str, pat: re.Pattern, recursive: bool,
    include_hidden: bool = False,
) -> list[FileMeta]:
    sel = pafs.FileSelector(path, recursive=recursive, allow_not_found=True)
    base = path.rstrip("/")
    # Rebuild URIs with the CALLER's prefix, the part of ``uri`` fs_of
    # stripped, not fs.type_name: the type name rewrites gs://→gcs:// (a
    # scheme Spark/Hadoop has no handler for) and drops the
    # hdfs://namenode:port authority (later opens would bind to
    # fs.defaultFS, potentially a different cluster). For s3:// the prefix
    # is just "s3://" (the bucket lives inside info.path); for hdfs:// it
    # is "hdfs://nn:port".
    prefix = uri[: len(uri) - len(path)]
    out = []
    for info in fs.get_file_info(sel):
        if info.type != pafs.FileType.File or not pat.search(info.base_name):
            continue
        if not include_hidden:
            # any hidden component below the listed root excludes the file
            # (e.g. Hadoop _temporary staging dirs)
            rel = info.path[len(base):].lstrip("/") if info.path.startswith(base) else info.path
            if any(_hidden(c) for c in rel.split("/")):
                continue
        p = info.path
        if not prefix.endswith("/") and not p.startswith("/"):
            p = "/" + p  # keep scheme://path well-formed either way
        out.append(FileMeta(prefix + p, info.size, (info.mtime_ns or 0) / 1e9))
    return out
