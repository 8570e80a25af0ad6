"""The commit-file write: one durable, atomic JSON replace.

Every JSON file a commit publishes — the lake's snapshots, ``current``
pointer, refs and consumer offsets, the stream drivers' per-epoch
checkpoints and offset files, the index metas — is written by
:func:`atomic_write_json`, so a crash at any step leaves either the old
file or the complete new one, never a torn one.
"""

from __future__ import annotations

import json
import os
import tempfile


def atomic_write_json(path: str, obj, **dump_kw) -> None:
    """Replace ``path`` with ``json.dump(obj, **dump_kw)``: dump into a
    unique hidden temp file in the target directory, flush and fsync it,
    then ``os.replace`` it onto ``path`` (atomic on POSIX). If any step
    raises, the temp file is removed and ``path`` is left as it was."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".",
                               prefix=f".{os.path.basename(path)}.",
                               suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, **dump_kw)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
