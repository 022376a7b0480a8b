"""Shared filesystem-metadata helpers: ONE audited code path for the
two staleness checks that had each grown their own walking logic —
the parquet footer ts-unit sniff (sources/readers.py, keyed on a part
file's mtime) and the index-manifest data fingerprint
(operators/indexing.py, keyed on a tree's count/bytes/max-mtime).

Both answer the same question — "has this dataset changed since I
last looked?" — from metadata only, never a data scan:

- :func:`list_part_files` + :func:`local_mtime` serve the LOCAL-FS
  fast path (driver testdata): enumerate the parts, key per-file
  caches on each part's mtime.
- :func:`hadoop_tree_stats` serves the portable path (index builds):
  recursive listing through the Hadoop FS API, so the same
  fingerprint works on HDFS/S3 as on a local tempdir.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def strip_file_scheme(path: str) -> str:
    """Normalize a ``file:``-scheme URI to the plain local path the
    ``os.path`` layer understands — ``file:/p``, ``file:///p``, and
    ``file://localhost/p`` all mean ``/p`` (RFC 8089 / Hadoop: an
    empty or ``localhost`` authority is the local machine) — and
    leave every other string (bare paths, ``hdfs://``/``s3a://``
    URIs) untouched.  ONE normalizer for every driver-local consumer:
    the r8 advice found ``_norm_ckpt`` mishandling the single-slash
    canonical form, and the r9 review found ``register_tables``
    silently registering ZERO views for a ``file:``-spelled testdata
    dir (its ``os.path.exists`` probes were always-False) — the same
    bug class wherever a user-supplied path meets ``os.path``.

    Any OTHER non-empty authority is REFUSED loudly (r9 review): the
    first naive strip turned ``file://localhost/data`` into
    ``/localhost/data`` — a silently wrong path recreating exactly
    the zero-views failure this helper exists to close — and a
    ``file://somehost/p`` remote authority has no local meaning at
    all.  The refusal names both readings (authority vs. the
    ``file:///`` the user probably meant) so a sloppy
    ``file://tmp/x`` spelling gets an actionable error, never a
    silent guess."""
    if not path.startswith("file:"):
        return path
    rest = path[len("file:"):]
    if rest.startswith("//"):
        authority, sep, tail = rest[2:].partition("/")
        if authority not in ("", "localhost"):
            raise ValueError(
                f"ambiguous file: URI {path!r}: {authority!r} parses as "
                "a URI authority (host), which has no local-filesystem "
                "meaning — spell a local path as "
                f"'file:///{authority}{sep}{tail}' (or a bare "
                f"'/{authority}{sep}{tail}'); only an empty or "
                "'localhost' authority is accepted"
            )
        rest = tail
    return "/" + rest.lstrip("/")


def list_part_files(path: str) -> list[str]:
    """Sorted data part files of a parquet dataset, RECURSIVE: a
    hive-partitioned layout (key=value subdirectories) is a perfectly
    readable dataset whose top level holds only directories — a
    flat listdir would wrongly report "no part files" (r5 review
    catch).  Skips ``_``/``.`` sidecars (_SUCCESS, _manifest) at every
    level; a plain file path returns itself as the single part.  THE
    one part-filter — the stream reader's hive-layout check, the
    redelivery staging (`streaming.runner._expand_links`) and the
    ts-unit sniff all go through here.  LOCAL-FS ONLY
    (os.walk) — on HDFS/S3 go through :func:`hadoop_tree_stats`.

    A nonexistent path fails HERE with the real name (r7 review): the
    old fall-through returned it as a single "part", and the error
    surfaced later as an opaque read failure against a staged symlink.

    A ``file:``-spelled LOCAL path normalizes HERE (r9 review), so
    every consumer of this one part-filter gets the fix at the entry
    point instead of each growing its own strip call; returned part
    paths are plain local paths."""
    path = strip_file_scheme(path)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no such dataset: {path}")
    if not os.path.isdir(path):
        return [path]
    parts: list[str] = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(
            d for d in dirnames if not d.startswith(("_", "."))
        )
        parts.extend(
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    if not parts:
        raise FileNotFoundError(f"no parquet part files under {path}")
    return sorted(parts)


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FS API — correct for EVERY
    scheme Spark itself can read (hdfs://, s3a://, file:, bare local
    paths).  The maintained-table streaming sinks use this to decide
    first-batch seeding: a driver-local ``os.path.exists`` there would
    be always-False for remote URIs and silently reset accumulated
    state to one batch's worth every batch."""
    fs, p = fs_and_path(spark, path)
    return bool(fs.exists(p))


def local_mtime(path: str) -> float:
    """Cache key for per-file metadata caches: a rewrite of the same
    path (even with identical size) bumps mtime and invalidates."""
    return os.path.getmtime(path)


def hadoop_tree_stats(spark: SparkSession, path: str) -> dict[str, int]:
    """Recursive metadata stats of a dataset tree — NO data scan.

    File count, total bytes, max modification time, via the Hadoop FS
    API (portable to HDFS/S3; the store's mtime/etag discipline is the
    staleness contract).  The blind spot is an in-place byte flip that
    preserves size and mtime — no metadata check can see that; callers
    keep an explicit ``force=True`` override for it."""
    fs, p = fs_and_path(spark, path)
    n_files = total_bytes = max_mtime = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        n_files += 1
        total_bytes += st.getLen()
        max_mtime = max(max_mtime, st.getModificationTime())
    return {"n_files": n_files, "bytes": total_bytes, "max_mtime_ms": max_mtime}


def fs_and_path(spark: SparkSession, path: str):
    """(FileSystem, Path) through the Hadoop API — the one place the
    jvm-gateway boilerplate lives (catalog's ls/swap/recover all
    hand-rolled it; r5 review catch)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def rename_or_raise(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports failure by returning FALSE,
    not by throwing — an unchecked rename inside the swap protocol let
    a failed step fall through to deleting the only surviving copy of
    a table (r5 review catch).  Every swap step goes through here."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")
