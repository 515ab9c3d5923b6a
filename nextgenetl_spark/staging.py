"""Content-fingerprinted staging caches for derived lake artifacts.

Several workloads stage a one-time derived layout next to the source data
(a partitioned orders lake, an IVF cell index, a MinHash band index) and
reuse it across runs — the real cost shape of a 100-TB lake, where the
layout/index exists before the query does. A cache keyed by *path alone*
is stale-unsafe: regenerate the source parquet in place and the old
artifact is silently served. The fix (applied first to the MinHash index,
round-2 advisory) is a CONTENT fingerprint — path + size + mtime of every
data file — plus a ``_COMPLETE`` marker written only after the build
returns, so a crashed partial build is rebuilt, never probed.

This module is that pattern, shared: ``staged_dir`` hands back a
fingerprint-keyed directory and whether it is complete; the caller builds
into it and calls ``mark_complete``. The directory name carries BOTH a
source-path key and the content fingerprint (``<prefix>_<pathkey>_<fp>``),
so ``mark_complete`` can reap superseded fingerprints of the SAME source
(bounded disk: one live artifact per source path and code token) without
ever touching a different source's cache — e.g. sf0.01's and sf0.1's IVF
indexes coexist, but regenerating sf0.1 in place replaces sf0.1's old
index. Builds of the same source under another code token (another
checkout sharing the temp dir) are never reaped.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

_MARKER = "_COMPLETE"


def content_fingerprint(src_path: str) -> str:
    """Fingerprint of a source file or directory-shaped parquet table:
    md5 over (relative name, size, mtime_ns) of every data file, in sorted
    order. Any in-place regeneration — same path, new bytes — changes it.

    KNOWN LIMIT (r11 ADVICE #2): on filesystems with coarse mtime
    granularity, a same-size in-place rewrite landing within one mtime tick
    keeps the fingerprint — the caches keyed on it would serve the previous
    artifact/schema. Real writers (Spark, pyarrow) emit fresh part-file
    names and different sizes, so the window is byte-identical-size +
    sub-tick rewrites only; folding file bytes in would turn a stat walk
    into a full read of the lake. Local-FS paths only — callers guard
    URI-scheme paths before fingerprinting."""
    src = os.path.abspath(src_path)
    parts: list[str] = [src]
    if os.path.isdir(src):
        files = sorted(
            p
            for p in glob.glob(os.path.join(src, "**", "*"), recursive=True)
            if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
        )
    else:
        files = [src]
    for p in files:
        st = os.stat(p)
        parts.append(f"{os.path.relpath(p, src)}|{st.st_size}|{st.st_mtime_ns}")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:12]


def atomic_write(path: str, text: str) -> str:
    """Write ``text`` to ``path`` all or nothing: a temp file in the same
    directory, then ``os.replace``. The temp name starts with ``_``, which
    Spark's file index skips, so a crash before the replace cannot make the
    parquet table the file sits in unreadable; a failed write also removes
    the temp file."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix="_", suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(text)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return path


def _path_key(src_path: str) -> str:
    return hashlib.md5(os.path.abspath(src_path).encode()).hexdigest()[:8]


def code_token(*objs) -> str:
    """Version token over the SOURCE of the code that computes a staged
    artifact (round-5 ADVICE: a cache keyed on input content alone serves
    stale results after the operator implementation changes — only the
    slow oracle run would notice). Pass the functions (or whole modules)
    whose behavior the artifact bakes in; their ``inspect.getsource`` text
    is hashed, so any edit — even a constant tweak — produces a new token
    and therefore a new staged_dir fingerprint. ``mark_complete`` leaves
    the old token's build in place (another checkout may still read it),
    so each code version keeps at most one build per source."""
    import inspect

    parts = []
    for o in objs:
        try:
            parts.append(inspect.getsource(o))
        except (OSError, TypeError):
            # No retrievable source (builtins, C-accelerated, exec'd code).
            # repr() would embed the per-process memory address and break
            # cache hits across runs (round-6 ADVICE) — fall back to a hash
            # of the full code identity when there is code, else the stable
            # dotted name. co_code alone is NOT enough (round-7 ADVICE):
            # two exec'd functions differing only in a constant (a threshold
            # tweak) share bytecode, so fold co_consts, co_names, and any
            # closure cell contents into the hash too — the docstring's
            # "even a constant tweak produces a new token" contract.
            co = getattr(o, "__code__", None)
            if co is not None:
                h = hashlib.md5(co.co_code)
                h.update(repr(co.co_consts).encode())
                h.update(repr(co.co_names).encode())
                for cell in getattr(o, "__closure__", None) or ():
                    try:
                        h.update(repr(cell.cell_contents).encode())
                    except ValueError:  # empty cell (unresolved free var)
                        h.update(b"<empty-cell>")
                parts.append(h.hexdigest())
            else:
                parts.append(
                    f"{getattr(o, '__module__', '')}."
                    f"{getattr(o, '__qualname__', type(o).__qualname__)}"
                )
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:8]


def staged_dir(prefix: str, src_path: str, code: str | None = None) -> tuple[str, bool]:
    """(cache_dir, complete) for a derived artifact of ``src_path``.

    ``complete`` is True only when a prior build of the SAME source content
    finished (marker present); on False the caller must build into the dir
    and then call ``mark_complete``. ``code`` (from :func:`code_token`)
    folds the generating code's version into the fingerprint so
    implementation changes invalidate the cache like data changes do."""
    fp = content_fingerprint(src_path)
    if code:
        fp = f"{fp}-{code}"
    d = os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{_path_key(src_path)}_{fp}",
    )
    return d, os.path.exists(os.path.join(d, _MARKER))


def mark_complete(cache_dir: str) -> None:
    """Stamp a finished build, then reap superseded builds of the SAME
    source by the SAME code (same prefix+pathkey and code token, different
    content fingerprint) so in-place source regeneration never accumulates
    unbounded stale artifacts. A build under another code token is left
    alone: it is another checkout's (or another version's) live artifact
    of the same source, which a process sharing the temp dir may still be
    reading. The marker is written first, so a crash mid-reap leaves the
    new build usable; a crash mid-build (no marker) leaves a dir that is
    rebuilt, never probed — and reaped by the next successful build."""
    os.makedirs(cache_dir, exist_ok=True)
    with open(os.path.join(cache_dir, _MARKER), "w", encoding="utf-8") as fh:
        fh.write(os.path.basename(cache_dir))
    base = os.path.basename(cache_dir)
    family, fp = base.rsplit("_", 1)  # <prefix>_<pathkey>, <content>[-<code>]
    code = fp.partition("-")[2]
    parent = os.path.dirname(cache_dir)
    for sib in glob.glob(os.path.join(parent, f"{family}_*")):
        name = os.path.basename(sib)
        if name != base and name.rsplit("_", 1)[1].partition("-")[2] == code and os.path.isdir(sib):
            shutil.rmtree(sib, ignore_errors=True)
