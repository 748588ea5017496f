"""One atomic commit for every small JSON document the package keeps: the
feature-store registry, the LinUCB policy artifact and the rollups' replay
mark.

``write_json`` writes a temp file in the target's own directory, flushes
and fsyncs it, then ``os.replace``\\ s it over the target, so a reader (or a
process restarted after a crash) sees the previous document or the new
one, never a truncated one. The temp file is removed if anything fails.
"""

from __future__ import annotations

import json
import os
import tempfile


def write_json(path: str | os.PathLike, doc, *, indent: int | None = None) -> None:
    """Replace the JSON document at ``path`` with ``doc`` atomically,
    creating the parent directory if needed."""
    parent = os.path.dirname(os.fspath(path)) or "."
    os.makedirs(parent, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=parent, prefix=f".{os.path.basename(path)}-", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, indent=indent)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
