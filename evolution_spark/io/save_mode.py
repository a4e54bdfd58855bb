"""The one save-mode rule: what ``error`` / ``append`` / ``overwrite`` /
``ignore`` do to whatever sits at a local output path. Writers pass only
how to create a new output and how to append to one, so their Spark
writers run with ``mode("error")`` or ``mode("append")`` alone. A new
output takes its path with an exclusive ``mkdir``: an output another
writer put there meanwhile is never replaced. An old output is deleted
only once its replacement is in place; a write that raises removes what
it made."""

from __future__ import annotations

import errno
import os
import re
import shutil
import uuid
from contextlib import suppress
from pathlib import Path
from typing import Any, Callable


def save_output(
    path: str,
    save_mode: str,
    create: Callable[[str], Any],
    append: Callable[[str], Any] | None = None,
    *,
    table_marker: str | None = None,
    overwrite: Callable[[str], Any] | None = None,
    relocatable: bool = True,
) -> Any:
    """Apply ``save_mode`` at ``path``; return what the write returned.

    Every mode creates at an absent path. On an existing one ``error``
    raises and ``ignore`` returns None, before any write; ``append(p)``
    and ``overwrite(p)`` act on an output of this kind (a dir holding
    ``table_marker``, its commit point, else any dir). Any other
    overwrite replaces the WHOLE output, whatever the session's partition
    overwrite mode. ``create(p)`` builds at a hidden sibling that then
    takes the path, or, when not ``relocatable`` (Iceberg metadata
    records absolute paths), at ``path`` itself."""
    mode = save_mode.lower()
    mode = "error" if mode in ("errorifexists", "default") else mode
    if mode not in ("error", "append", "overwrite", "ignore"):
        raise ValueError(f"unknown save_mode {save_mode!r}")
    if re.match(r"[^/]*:", path):  # a colon before any slash: a URI (file:, hdfs:)
        raise ValueError(f"output path must be a local path, not a URI: {path!r}")
    out = Path(path)
    exists = os.path.lexists(out)
    if exists and mode == "ignore":
        return None
    if exists and mode == "error":
        raise ValueError(f"output exists: {path} (save_mode='error')")
    ours = exists and out.is_dir() and (table_marker is None or (out / table_marker).exists())
    if mode == "overwrite" and ours and overwrite is not None:
        return overwrite(str(out))
    if mode == "append" and exists:
        if not ours or append is None:
            raise ValueError(f"output exists but this writer cannot append to it: {path}")
        return append(str(out))
    out.parent.mkdir(parents=True, exist_ok=True)
    if not relocatable:
        return _swap_in(out, exists, lambda: _create_in(out, create, table_marker))
    new = _sibling(out, "new")
    try:
        result = create(str(new))
        _swap_in(out, exists, lambda: _rename_in(new, out))
    except BaseException:
        _remove(new)
        raise
    return result


def _swap_in(out: Path, displace: bool, fill: Callable[[], Any]) -> Any:
    """Claim ``out`` with an exclusive mkdir and ``fill()`` it (a failed
    fill removes what it made). With ``displace`` the output at ``out``
    waits renamed aside: deleted once filled, renamed back on failure."""
    aside = _sibling(out, "old")
    if displace:
        os.rename(out, aside)
    try:
        try:
            out.mkdir()
        except FileExistsError:
            raise ValueError(f"output exists: {out} (made by another writer meanwhile)") from None
        result = fill()
    except BaseException:
        if displace:
            os.rename(aside, out)
        raise
    if displace:
        _remove(aside)
    return result


def _create_in(out: Path, create: Callable[[str], Any], table_marker: str | None) -> Any:
    try:
        return create(str(out))
    except BaseException:
        # a table another writer published here meanwhile is theirs to keep
        if not (table_marker and (out / table_marker).exists()):
            _remove(out)
        raise


def _rename_in(new: Path, out: Path) -> None:
    try:
        os.rename(new, out)  # replaces the claim only while it is empty
    except OSError as e:
        with suppress(OSError):
            out.rmdir()  # fails if another writer's files are in the claim
        if e.errno in (errno.ENOTEMPTY, errno.EEXIST, errno.ENOTDIR):
            raise ValueError(f"output exists: {out} (filled by another writer meanwhile)") from e
        raise


def _sibling(out: Path, tag: str) -> Path:
    return out.with_name(f".{out.name}.{tag}-{uuid.uuid4().hex}")


def _remove(p: Path) -> None:
    if p.is_dir() and not p.is_symlink():
        shutil.rmtree(p, ignore_errors=True)
    else:
        p.unlink(missing_ok=True)
