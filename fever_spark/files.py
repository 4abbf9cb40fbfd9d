"""Whole-file replacement that readers never see torn, for job records and
state files (manifests, stage markers, ingest params, Bloom filter files)
at a bare path or a pyarrow.fs URI (file://, s3://, hdfs://). No Spark
deps: the sketch kernels save through it.
"""

from __future__ import annotations

import os
import posixpath
import re
import secrets

__all__ = ["resolve", "write_atomic"]

_URI = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:/")


def resolve(path: str):
    """``(filesystem, path on it)``; a bare path (a colon in a file name
    included) is made absolute, as pyarrow.fs requires."""
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(
        path if _URI.match(path) else os.path.abspath(path))


def write_atomic(path: str, data: bytes) -> None:
    """Write ``data`` to a hidden ``.<name>.<random>.tmp`` beside ``path``
    (its directory must exist), then move it over ``path``: a replacing
    rename on a local filesystem, a copy on object stores. The temp file
    is deleted if the write fails."""
    fs, target = resolve(path)
    parent, name = posixpath.split(target)
    tmp = posixpath.join(parent, f".{name}.{secrets.token_hex(8)}.tmp")
    try:
        with fs.open_output_stream(tmp, compression=None) as f:
            f.write(data)
        fs.move(tmp, target)
    except BaseException:
        try:
            fs.delete_file(tmp)
        except OSError:
            pass
        raise
