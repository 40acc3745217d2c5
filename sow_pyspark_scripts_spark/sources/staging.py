"""Build-once staging for derived artifacts under the system tempdir.

The reference pipeline builds derived Parquet once so that later steps
read it (``preprocess_and_store_parquets.py:236-252``). The engine does
the same for its stored ANN and doc indexes and its staged stream
sources, and :func:`stage` is the one protocol all of them use:

- the artifact dir is ``<prefix>_v<_INDEX_VERSION>_<fingerprint>``, where
  the fingerprint is a content key of the source table (file names,
  sizes and mtimes), so a regenerated fixture can never serve a stale
  artifact;
- a hit costs the fingerprint's ``os.stat`` and one marker ``exists``:
  no listing, no lock;
- a miss builds into a private ``.build-<pid>-<random>`` dir, unique per
  process and thread, writes the marker and commits with one
  ``os.rename``, so a reader never sees a half-written artifact. The
  loser of a race discards its own build; ``rebuild`` moves the
  committed dir aside to ``.old-<pid>-<random>`` and swaps its build in;
- a miss also sweeps the siblings of the same prefix (other versions
  and fingerprints, crashed builds). It keeps the ``.build-``/``.old-``
  dirs of running processes and any sibling whose drain checkpoint
  (``chk*``) was written within ``_STAGE_GRACE_SEC``, since another
  session may still be draining it.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import stat
import tempfile
import time

MARKER = "_INDEX_DONE"
# Bump whenever the set/layout OR the numerics of staged tables change:
# the version is part of the staging dir name, so an artifact built by
# older code can never satisfy a reader expecting newer tables
# (v2 added the ivfadc_codes/ivfadc_codebook residual layer; v3 pinned
# IVF centroids and PQ codewords to the exact-integer 1e-6 grid mean —
# functions/det.mean_grid — the round-3 semdedup determinism fix; v4
# pinned the REMAINING index numerics to exact integer grid arithmetic —
# quantized PQ sign projections, integer d2 in the coarse assignment,
# d2r6 qerr — the round-5 repo-wide close of the flake class; v5 added
# the stored DSIR layer to the doc index: dsir_doc_buckets +
# dsir_bucket_lr, VERDICT r4 task #3; v6 switched pq_codebook/pq code
# paths to INTEGER grid-unit arrays — quantized once at the source, so
# ADC luts are pure integer diffs, not per-pair re-quantizations; v7
# stores pq_codebook and ivfadc_codebook as ONE row of 64 codeword slots,
# slot = sub * 16 + cell, so an ADC read gathers 4 slots of its query's
# LUT row. The version is shared, so the doc index and the staged stream
# slices, whose tables did not change, rebuild once too).
_INDEX_VERSION = 7
# A sibling whose drain checkpoint is younger than this is assumed LIVE
# (another session may still be draining it) and is never swept.
_STAGE_GRACE_SEC = 3600


def sf_tag(sf_dir: str) -> str:
    """``sf_dir`` as one file-name component."""
    return sf_dir.strip("/").replace("/", "_").replace(".", "_")


def fingerprint(path: str) -> str:
    """Listing fingerprint of a file or directory: the relative name,
    size and mtime of every file under ``path``, walked recursively so a
    partitioned table's ``key=value`` dirs are covered. Cheap (one
    ``os.stat`` for a single file) and changes whenever the data is
    rewritten. Raises ``OSError`` when ``path`` cannot be stat'ed."""
    h = hashlib.md5()
    st = os.stat(path)
    if stat.S_ISDIR(st.st_mode):
        _hash_listing(h, path, "")
    else:
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _hash_listing(h, root: str, rel: str) -> None:
    for p in sorted(os.listdir(os.path.join(root, rel))):
        name = rel + p
        pst = os.stat(os.path.join(root, name))
        if stat.S_ISDIR(pst.st_mode):
            _hash_listing(h, root, name + "/")
        else:
            h.update(f"{name}:{pst.st_size}:{pst.st_mtime_ns};".encode())


def staged_path(prefix: str, sf_dir: str, table: str) -> str:
    fp = fingerprint(os.path.join(sf_dir, f"{table}.parquet"))
    return f"{prefix}_v{_INDEX_VERSION}_{fp}"


def stage(spark, prefix: str, sf_dir: str, table: str, build, rebuild: bool = False) -> str:
    """Return the artifact dir of ``(sf_dir, table)`` under ``prefix``,
    building it with ``build(spark, sf_dir, dir)`` if it is absent (or if
    ``rebuild``). A build that raises leaves nothing behind."""
    d = staged_path(prefix, sf_dir, table)
    if not rebuild and os.path.exists(os.path.join(d, MARKER)):
        return d
    root = os.path.dirname(d)
    os.makedirs(root, exist_ok=True)
    _sweep(prefix, d)
    private = tempfile.mkdtemp(prefix=f"{os.path.basename(d)}.build-{os.getpid()}-", dir=root)
    os.chmod(private, 0o755)  # mkdtemp's 0o700 would hide a committed dir from other users
    old = os.path.join(root, os.path.basename(private).replace(".build-", ".old-", 1))
    try:
        build(spark, sf_dir, private)
        open(os.path.join(private, MARKER), "w").close()
        if rebuild:
            try:
                os.rename(d, old)
            except FileNotFoundError:
                pass
        try:
            os.rename(private, d)
        except OSError:
            # a concurrent builder committed first: keep its build. A
            # marker-less dir here is an older layout's leftover.
            if not os.path.exists(os.path.join(d, MARKER)):
                shutil.rmtree(d, ignore_errors=True)
                os.rename(private, d)
    finally:
        shutil.rmtree(private, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
    return d


def _sweep(prefix: str, keep: str) -> None:
    """Remove the stale siblings of ``prefix`` except ``keep`` (see the
    module docstring for what is kept). The match is a full-name regex,
    not a bare prefix: a different fixture whose tag extends this one
    ('/data/x' kind 'doc' vs '/data/x_doc_vault') must never match.
    ``_h<fingerprint>`` is the unversioned name the flushed-events source
    was staged under before it used this protocol."""
    root, stem = os.path.split(prefix)
    pat = re.compile(
        re.escape(stem)
        + r"_(?:v\d+_|h)[0-9a-f]{16}(?:\.(?:build|old)-(\d+)(?:-\w+)?)?$"
    )
    for sib in os.listdir(root):
        m = pat.match(sib)
        full = os.path.join(root, sib)
        if m is None or full == keep:
            continue
        if m.group(1) and _running(int(m.group(1))):
            continue
        if _draining(full):
            continue
        shutil.rmtree(full, ignore_errors=True)


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)  # signal 0: an existence check, nothing is sent
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def _draining(path: str) -> bool:
    """True when a drain checkpoint ``path/chk*``, or one of its direct
    entries (``offsets``, ``commits``), was written within
    ``_STAGE_GRACE_SEC``."""
    newest = 0.0
    try:
        for n in os.listdir(path):
            if n.startswith("chk"):
                c = os.path.join(path, n)
                newest = max(
                    [newest, os.path.getmtime(c)]
                    + [os.path.getmtime(os.path.join(c, e)) for e in os.listdir(c)]
                )
    except OSError:  # not a dir, or vanished mid-listing
        pass
    return time.time() - newest < _STAGE_GRACE_SEC
