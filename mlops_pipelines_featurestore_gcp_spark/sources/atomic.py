"""One atomic commit for everything the package rewrites: the small JSON
documents (feature-store registry, LinUCB policy artifact) and the
versioned stores (rollups, and the keyed tables: upsert tables and the
feature store's online store).

``write_json`` writes a temp file beside the target, fsyncs it and
``os.replace``\\ s it over the target, so a reader (or a process restarted
after a crash) sees the previous document or the new one, never a torn one.

A versioned store writes ``v{next_version}`` beside the current ``v{n}``,
linking the partitions it keeps; one replace of its ``_current.json``
pointer (``commit``) makes it current, and ``sweep`` removes all but it
and the version it replaced.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import uuid

_VERSION = re.compile(r"v(\d+)")


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


def next_version(root: str | os.PathLike) -> int:
    """One more than the highest ``v{n}`` under ``root`` (1 for none), so a
    new version never reuses the directory of one that crashed."""
    names = os.listdir(root) if os.path.isdir(root) else []
    return max((int(m[1]) for m in map(_VERSION.fullmatch, names) if m), default=0) + 1


def link_partitions(src: str, dst: str, keep=lambda name: True) -> None:
    """Hard-link into version ``dst`` each partition dir (``pgroup=3``) of
    version ``src`` that ``dst`` lacks and ``keep`` accepts: what a change
    did not rewrite is shared, not copied."""
    written = set(os.listdir(dst))
    for name in os.listdir(src):
        if "=" in name and name not in written and keep(name):
            shutil.copytree(os.path.join(src, name), os.path.join(dst, name), copy_function=os.link)


def read_pointer(root: str, *, legacy: tuple[str, ...]) -> dict | None:
    """``{root}/_current.json``, or ``None`` for a new store. A store with
    no pointer but an entry starting with a ``legacy`` name was written in
    the unversioned layout, which this code does not read: ``ValueError``."""
    try:
        with open(os.path.join(root, "_current.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        if os.path.isdir(root) and any(e.startswith(legacy) for e in os.listdir(root)):
            raise ValueError(f"{root} is a store in the unversioned layout; rebuild it") from None
        return None


def commit(root: str, doc: dict) -> None:
    """Make version ``doc["version"]`` current with one pointer replace,
    then sweep every version but it and the one it replaced."""
    previous = read_pointer(root, legacy=())
    write_json(os.path.join(root, "_current.json"), doc)
    sweep(root, {f"v{doc['version']}", previous and f"v{previous['version']}"})


def sweep(root: str | os.PathLike, keep) -> None:
    """Remove every ``v{n}`` under ``root`` not named in ``keep``, renamed
    away first so no reader lists a half-removed version (a ``.drop-``
    left by a crash goes with the next sweep)."""
    for name in os.listdir(root):
        if name in keep or not (_VERSION.fullmatch(name) or name.startswith(".drop-")):
            continue
        gone = os.path.join(root, f".drop-{uuid.uuid4().hex}")
        os.rename(os.path.join(root, name), gone)
        shutil.rmtree(gone)
