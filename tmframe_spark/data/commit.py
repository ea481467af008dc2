"""The one commit protocol: write the data, then commit a small JSON record
by atomic rename — the reference archiver's ack-after-disk
(archiver/filemgr.go:370-384). Every manifest and every index ``meta.json``
in the engine commits through here.

``write_json`` fsyncs the tmp file, renames it over the target, then fsyncs
the parent directory: a committed record survives power loss, and an
interrupted commit leaves the previous record readable (the leftover
``*.json.tmp`` is never read — readers list ``*.json``).

``append_batch`` / ``vacuum`` are the batch-token fence of the persisted
indexes: rows land under ``<table>/batch=<token>/`` and the token joins
``meta.json``'s ``batches`` list (in commit order) only after every table
is written; readers filter to committed tokens.

Single-writer contract: one writer per manifest and per index. The
``meta.json`` read-modify-write is not a compare-and-swap, so concurrent
appenders can lose a commit (the loser's batch stays invisible to readers
and ``vacuum`` removes it).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

_RAISE = object()


def write_json(path: str, obj) -> None:
    """Atomically and durably replace ``path`` with ``obj`` as JSON."""
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # the commit: readers see old or new, never mixed
    fd = os.open(parent, os.O_RDONLY)
    try:
        os.fsync(fd)  # make the rename itself durable
    finally:
        os.close(fd)


def read_json(path: str, default=_RAISE):
    """The committed record at ``path``; ``default`` when there is none
    (FileNotFoundError if no default is given)."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        if default is _RAISE:
            raise
        return default


def read_meta(index_dir: str) -> dict:
    return read_json(os.path.join(index_dir, "meta.json"))


def write_meta(index_dir: str, meta: dict) -> None:
    write_json(os.path.join(index_dir, "meta.json"), meta)


def append_batch(index_dir: str, tables, batch: str | None, write) -> dict:
    """Commit one batch into an index under the token fence and return the
    committed meta. ``write(meta, token)`` writes the batch's rows under
    ``<table>/batch=<token>/`` for each of ``tables``; the token is committed
    only after it returns. A ``batch`` already committed is a no-op."""
    meta = read_meta(index_dir)
    committed = meta.get("batches", [])
    if batch is not None and batch in committed:
        return meta  # replay of a committed append: exactly-once no-op
    token = batch or uuid.uuid4().hex
    for table in tables:
        d = os.path.join(index_dir, table, f"batch={token}")
        if os.path.isdir(d):
            shutil.rmtree(d)  # a crashed attempt's partial write
    write(meta, token)
    meta = dict(meta, batches=committed + [token])
    write_meta(index_dir, meta)
    return meta


def vacuum(index_dir: str, tables) -> list[str]:
    """Delete UNCOMMITTED ``batch=<token>`` directories (a crashed append's
    leftovers) from ``tables``; returns the removed tokens, sorted. Safe
    alongside readers: they never read uncommitted batches."""
    committed = set(read_meta(index_dir).get("batches", []))
    removed = set()
    for table in tables:
        troot = os.path.join(index_dir, table)
        if not os.path.isdir(troot):
            continue
        for d in os.listdir(troot):
            if d.startswith("batch=") and d.split("=", 1)[1] not in committed:
                shutil.rmtree(os.path.join(troot, d))
                removed.add(d.split("=", 1)[1])
    return sorted(removed)
