"""Filesystem helpers that go through Spark's Hadoop FileSystem API, so
they work against whatever storage the session is configured for (local
disk here; HDFS/S3A on a cluster) — never the driver's local ``os.path``,
which would silently disagree with object-store-backed deployments."""

from __future__ import annotations


def _fs(spark, path: str):
    """(FileSystem, Path) for ``path`` on the session's Hadoop filesystem."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_path_exists(spark, path: str) -> bool:
    """True iff ``path`` exists on the session's Hadoop filesystem (the
    public FileSystem#exists — one namenode/list call, no Spark job)."""
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def fs_dir_has_entries(spark, path: str) -> bool:
    """True iff ``path`` is a directory with at least one child."""
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath)) and len(fs.listStatus(hpath)) > 0


def fs_touch(spark, path: str) -> None:
    """Create (or truncate) the empty file ``path``, parents included."""
    fs, hpath = _fs(spark, path)
    fs.create(hpath, True).close()


def fs_delete(spark, path: str) -> None:
    """Remove the file ``path`` if it exists."""
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, False)


def fs_dir_fingerprint(spark, path: str) -> tuple:
    """Deterministic fingerprint of a directory's direct children —
    sorted (name, length) pairs via FileSystem#listStatus: a genuine
    listing-only call (no parquet footer reads, no DataFrame
    construction, no job).  Parquet appends add part files and never
    rewrite existing ones, so this changes iff the directory's data
    changed — the memo-invalidation signal for grown signature stores.
    Raises ValueError with the path if it does not exist."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        raise ValueError(f"no such store directory: {path}")
    return tuple(
        sorted(
            (st.getPath().getName(), st.getLen()) for st in fs.listStatus(hpath)
        )
    )
