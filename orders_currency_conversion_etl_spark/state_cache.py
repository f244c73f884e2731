"""Shared protocol for materialized engine state (graph edges, ANN
index): fingerprinted cache paths + atomic temp-dir materialization.

One implementation, call sites in plans/graph.py and operators/
similarity.py — extracted in r6 after review found the two copies
already drifting. The protocol:

- the cache path embeds a fingerprint of the SOURCE table (every
  part-file's name+mtime+size, not a single probe) AND a caller-
  supplied derivation token (the constants / code-version string the
  state depends on), so neither regenerated testdata nor a changed
  derivation can ever be served stale state — staleness is
  unreachable by construction, not read-repaired;
- writes land in a per-process temp dir (``<path>.tmp.<pid>``) and
  are renamed into place only after a ``_DONE`` marker is created, so
  a killed build can never leave a half-materialization a later run
  trusts, and two concurrent builders (pytest worker + bench) can
  never interleave writes into the same staging dir — last atomic
  rename wins with a complete build either way;
- the default root lives under the repo's gitignored ``.localdata``
  (state stays inside the workspace, with the fixtures it derives
  from), overridable per-cache via an env var.
"""

from __future__ import annotations

import errno
import hashlib
import os
import shutil
import stat
from collections.abc import Callable

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def source_digest(src: str) -> str:
    """md5 hex over EVERY part file's (name, mtime_ns, size) of a
    table stored at ``src`` — a parquet directory or a single file. A
    same-second same-size regeneration still changes mtime_ns on any
    real filesystem, and adding/removing/renaming a part always
    changes the digest. A single-file table costs one ``stat``."""
    h = hashlib.md5()
    st = os.stat(src)
    if stat.S_ISDIR(st.st_mode):
        for name in sorted(os.listdir(src)):
            part = os.stat(os.path.join(src, name))
            h.update(f"{name}:{part.st_mtime_ns}:{part.st_size};".encode())
    else:
        h.update(f"{os.path.basename(src)}:{st.st_mtime_ns}:{st.st_size};".encode())
    return h.hexdigest()


def fingerprint_path(
    sf_dir: str,
    source_table: str,
    env_var: str,
    subdir: str,
    prefix: str,
    derivation: str = "",
) -> str:
    """Deterministic cache location for ``sf_dir``'s state derived from
    ``source_table`` (e.g. ``lineitem``): root from ``env_var`` or
    ``.localdata/<subdir>``, leaf ``<prefix>_<dirtag>_<srcfp>[_<deriv>]``.

    ``srcfp`` is :func:`source_digest` of the source table.
    ``derivation`` is the caller's token for the
    parameters/code-version the state depends on (e.g. the centroid
    stride), so tuning a constant invalidates the cache instead of
    silently serving state built under the old value.
    """
    root = os.environ.get(env_var) or os.path.join(_REPO_ROOT, ".localdata", subdir)
    src = os.path.join(sf_dir, f"{source_table}.parquet")
    # md5, not hash(): str hashing is per-process randomized, which
    # would defeat cross-process cache reuse.
    dir_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    leaf = f"{prefix}_{dir_tag}_{source_digest(src)[:16]}"
    if derivation:
        leaf += "_" + hashlib.md5(derivation.encode()).hexdigest()[:10]
    return os.path.join(root, leaf)


def is_materialized(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "_DONE"))


def materialize(path: str, write_parts: Callable[[str], None]) -> str:
    """Idempotently build the state at ``path``: no-op if its ``_DONE``
    marker exists, else call ``write_parts(tmp_dir)`` and atomically
    rename the finished temp dir into place.

    The staging dir is suffixed with the pid so concurrent builders of
    the same fingerprint (pytest worker racing bench) each stage into
    their own dir; whichever renames last wins, and both renamed trees
    are complete builds of the same fingerprint so the race is benign.
    """
    if is_materialized(path):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    try:
        write_parts(tmp)
        os.makedirs(os.path.join(tmp, "_DONE"))
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # Re-check right before clearing the target: a concurrent builder
    # may have renamed a COMPLETE build into place since the top-of-
    # function check, and rmtree-ing it would yank state out from
    # under a third session mid-read. Only clear a target that lacks
    # its _DONE marker (i.e. a stale half-materialization from a
    # pre-temp-dir era or a crashed legacy build).
    # Residual race (ADVICE r8, shrunk r9): a concurrent rename can
    # still land BETWEEN this re-check and the clear below. Clearing
    # by rename-aside (atomic) instead of rmtree-in-place narrows the
    # reader-visible gap from O(tree delete) to two renames — a reader
    # sees either the old tree, ENOENT for an instant, or our
    # equivalent complete build; never a half-deleted tree. Closing
    # the gap to zero needs directory-level atomic swap
    # (renameat2/RENAME_EXCHANGE), which os.rename/os.replace don't
    # give for non-empty dirs cross-platform — acceptable because both
    # trees are complete builds of the same fingerprint and all
    # readers are retry-at-plan-time Spark scans in tests/bench.
    if is_materialized(path):
        shutil.rmtree(tmp, ignore_errors=True)
        return path
    trash = f"{path}.trash.{os.getpid()}"
    shutil.rmtree(trash, ignore_errors=True)
    try:
        os.rename(path, trash)
    except FileNotFoundError:
        pass
    try:
        os.rename(tmp, path)
    except OSError as exc:  # pragma: no cover - concurrent-rename race
        # A concurrent builder renamed its complete build in between
        # our rename-aside and rename (ENOTEMPTY/EEXIST): its state is
        # equivalent — keep it, drop ours.
        if exc.errno not in (errno.ENOTEMPTY, errno.EEXIST):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)
    return path
