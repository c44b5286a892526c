"""Filesystem blob store.

≙ reference storage/type/FileSystemStorage.java:43-139:
- configure-time validation: create-if-missing, must be a directory, writable
  (FileSystemStorage.java:54-73) — here done in __init__, which runs driver-side
  once (pre-flight) and lazily per executor python worker.
- retrieve-side URL validation: file:// scheme, path resolves INSIDE the
  configured root (path-traversal guard, FileSystemStorage.java:127-132), and is
  a regular file (:134-136).

Keys are sha256-of-content (see base.py) sharded into a two-level fan-out
directory (``ab/cdef...``) so a 10^10-blob namespace doesn't put billions of
entries in one directory — object stores don't care, but POSIX filesystems and
s3 listing both benefit from keyspace sharding.

Writes are atomic (tmp file + os.replace) so a killed executor never leaves a
torn blob, and idempotent (existing key ⇒ skip write) so Spark task retries
cannot duplicate or corrupt data.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from ..errors import ClaimCheckConfigError, ClaimCheckRetrieveError
from .base import BlobStore


class FileSystemStore(BlobStore):
    parallel_io = False  # sub-ms local ops: serial beats GIL-bound threading

    def __init__(self, root_dir: str, create: bool = True):
        if not root_dir:
            raise ClaimCheckConfigError("root_dir is required")
        root = Path(root_dir).absolute()
        if create:
            root.mkdir(parents=True, exist_ok=True)
        if not root.is_dir():
            # ≙ FileSystemStorage.java:60-66
            raise ClaimCheckConfigError(f"storage root is not a directory: {root}")
        if not os.access(root, os.W_OK):
            # ≙ FileSystemStorage.java:67-72
            raise ClaimCheckConfigError(f"storage root is not writable: {root}")
        self.root = root
        # the traversal guard compares against the real root; resolving it
        # here, once, keeps a filesystem syscall walk off every get
        self._real_root = root.resolve()

    def _path_for(self, key: str) -> Path:
        return self.root / key[:2] / key

    def url_for(self, key: str) -> str:
        return self._path_for(key).as_uri()

    def put(self, key: str, data: bytes) -> str:
        path = self._path_for(key)
        if path.is_file():  # content-addressed ⇒ identical bytes; skip rewrite
            return path.as_uri()
        path.parent.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=path.parent, prefix=".tmp-")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, path)  # atomic on POSIX
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return path.as_uri()

    def get(self, url: str) -> bytes:
        path = self._resolve(url)
        return path.read_bytes()

    def _resolve(self, url: str) -> Path:
        from urllib.parse import unquote, urlparse

        parsed = urlparse(url)
        if parsed.scheme != "file":
            # ≙ FileSystemStorage.java:106-116 (scheme check)
            raise ClaimCheckRetrieveError(f"not a file:// url: {url}")
        path = Path(unquote(parsed.path)).resolve()
        if not path.is_relative_to(self._real_root):
            # traversal guard ≙ FileSystemStorage.java:127-132
            raise ClaimCheckRetrieveError(f"url escapes storage root: {url}")
        if not path.is_file():
            # ≙ FileSystemStorage.java:134-136
            raise ClaimCheckRetrieveError(f"not a regular file: {url}")
        return path
