"""Crash-safe "stage, then swap in" of a table root's directories, the
one protocol of ``RecordStore.compact`` and the stored-index compactions.

The caller writes the new entries under ``staging(root)``, i.e.
``<root>/_compacted`` (hidden from Spark's listing), laid out as under
``root``. ``commit(root, drop)`` writes the ``_DONE`` manifest naming
the old entries to drop, moves each old entry aside, renames the staged
one in, drops the listed entries and removes ``_compacted`` last.
``recover(root)`` deletes a staging dir without ``_DONE`` and finishes
one with it; each step is safe to repeat, as an entry still staged is
not installed yet. An entry is a staged dir named ``<col>=<value>`` or
holding a file; other staged dirs (an index's ``postings/``) are
descended into. Old entries neither replaced nor dropped, such as a
partial fold's uncommitted tail, stay untouched.
"""

from __future__ import annotations

import json
import os
import shutil

STAGE = "_compacted"
_DONE = "_DONE"


def staging(root: str) -> str:
    """The (not yet created) staging dir of ``root``, after recovering
    any earlier one."""
    recover(root)
    return os.path.join(root, STAGE)


def commit(root: str, drop) -> None:
    """Swap the staged entries in and drop the old entries in ``drop``
    (paths relative to ``root``); those at or inside a staged entry go
    aside with the entry it replaces."""
    stage = os.path.join(root, STAGE)
    staged = [e + os.sep for e in _entries(stage)]
    drop = sorted(
        d for d in set(drop) if not any((d + os.sep).startswith(s) for s in staged)
    )
    tmp = os.path.join(stage, _DONE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump({"drop": drop}, fh)
    os.rename(tmp, os.path.join(stage, _DONE))
    _finish(root, stage, drop)


def recover(root: str) -> None:
    """Finish a committed swap of ``root`` or clear an uncommitted one.
    A ``_DONE`` that is no manifest was left by an older compaction
    whose layout is unknown here: refuse, deleting nothing."""
    stage = os.path.join(root, STAGE)
    if not os.path.isdir(stage):
        return
    done = os.path.join(stage, _DONE)
    if not os.path.isfile(done):
        shutil.rmtree(stage)
        return
    with open(done) as fh:
        try:
            drop = json.load(fh)["drop"]
        except (ValueError, TypeError, KeyError):
            raise RuntimeError(
                f"{stage} was committed by an older compaction and its "
                "_DONE names no entries; finish it with that version, "
                "or move the staged entries in by hand and remove it"
            ) from None
    _finish(root, stage, drop)


def _finish(root: str, stage: str, drop: list[str]) -> None:
    for rel in _entries(stage):
        target = os.path.join(root, rel)
        if os.path.exists(target):
            aside = os.path.join(stage, ".old", rel)
            os.makedirs(os.path.dirname(aside), exist_ok=True)
            os.rename(target, aside)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        os.rename(os.path.join(stage, rel), target)
    for rel in drop:
        path = os.path.join(root, rel)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
    shutil.rmtree(stage)


def _entries(stage: str, rel: str = "") -> list[str]:
    """The staged entries under ``stage/rel``, relative to ``stage``."""
    out = []
    for name in sorted(os.listdir(os.path.join(stage, rel))):
        path, sub = os.path.join(stage, rel, name), os.path.join(rel, name)
        if name.startswith(".") or not os.path.isdir(path):
            continue
        holds_file = any(os.path.isfile(os.path.join(path, f)) for f in os.listdir(path))
        out += [sub] if "=" in name or holds_file else _entries(stage, sub)
    return out
