"""The written-layout cache: one directory name, one crash rule, one
warehouse root and one sibling sweep, plus the staleness fingerprints
the directory names carry.

Every derived layout the engine writes (FTS, IVF, IVF-PQ, SQ8, dedup
signatures, BPE, segment stores, the ORC copy, the layout-metrics
scratch tables) is built once per corpus fingerprint and then probed
many times, through ``ensure_layout``:

- the directory is ``<warehouse root>/<sf>-<tag>-<fp>`` (``layout_name``);
- a directory holding its done marker is returned as it is, with no
  other I/O and no Spark job;
- a directory without its marker is a crashed attempt: it is removed and
  built again, and the marker is written if the build did not write it.

``sweep_siblings`` removes older generations of a layout after a build.

The fingerprints come in two tiers:

1. ``source_file_fingerprint`` — driver-side ``os.stat`` over the plan's
   input files (path, size, mtime). ZERO Spark jobs, so a warm probe of a
   written layout pays no corpus scan just to prove the layout is fresh.
   Regenerated testdata changes mtime/size -> new key -> rebuild. Only
   valid for local files; returns None for non-file schemes or fileless
   plans (pure in-memory DataFrames), where the caller falls back to tier 2.
2. ``content_fingerprint`` — one aggregate scan: count + sum(xxhash64 of
   the identifying columns), order-independent and value-sensitive (edited
   values with stable ids still rebuild).

The file tier hashes FILES, not plans: two different projections of the
same parquet get the same fingerprint. Layout caches therefore also key on
a caller-supplied tag that identifies the logical corpus; a layout over a
slice of a corpus puts the slice predicate in it (``predicate_tag``).
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


FileSig = tuple[tuple[str, int, int], ...]


def warehouse_root(leaf: str, root: str | None = None) -> str:
    """Default layout root: ``<repo>/spark-warehouse/<leaf>``, unless
    the caller supplied an explicit ``root``. The one definition for
    every written layout — the repo-root derivation must change in
    exactly one place. Leaves: ``fts_layout``, ``fts_segment_layout``
    (also the streaming base stores), ``fts_folded_layout``,
    ``bpe_layout``, ``bpe_fts_layout``, ``bpe_segment_layout``,
    ``ivf_layout``, ``ivf_trained_layout``, ``ivf_multiprobe_layout``,
    ``ivf_multiprobe_whitened_layout``, ``ivf_multiprobe_append_layout``,
    ``ivf_append_layout``, ``ivf_stream_base``, ``ivfpq_layout``,
    ``ivfpq_append_layout``, ``sq8_layout``, ``dedup_sig_layout``,
    ``dedup_sig_append_layout``, ``orc_docs`` and ``layout_metrics``."""
    if root is not None:
        return root
    repo_dir = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ))
    return os.path.join(repo_dir, "spark-warehouse", leaf)


def layout_name(sf_dir: str, tag: str, fp: str) -> str:
    """Directory name of a written layout: ``<sf>-<tag>-<fp>``, where
    ``<sf>`` is the basename of ``sf_dir`` (``default`` when it has
    none). With ``fp=""`` it is the stem every generation of the layout
    shares, which is what ``sweep_siblings`` patterns match."""
    sf = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return f"{sf}-{tag}-{fp}"


def ensure_layout(leaf: str, sf_dir: str, tag: str, fp: str,
                  build: Callable[[str], None], done: str,
                  root: str | None = None) -> str:
    """Build (once per fingerprint) and return the layout directory.

    ``done`` is the completion marker, relative to the directory; the
    writers land it last, so its presence means a finished build. A warm
    call is one ``os.stat``. Without the marker, any leftover directory
    is a crashed attempt: it is removed, ``build(out_dir)`` runs, and the
    marker is written if ``build`` did not write it. A ``build`` that
    raises leaves no marker, so the next call builds again."""
    out_dir = os.path.join(warehouse_root(leaf, root),
                           layout_name(sf_dir, tag, fp))
    marker = os.path.join(out_dir, done)
    if os.path.exists(marker):
        return out_dir
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    build(out_dir)
    if not os.path.exists(marker):
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w"):
            pass
    return out_dir


def sweep_siblings(out_dir: str, pattern: str) -> None:
    """Remove every directory next to ``out_dir`` whose name matches
    ``pattern`` (``re.match``), except ``out_dir`` itself: the older
    generations of a layout, which each corpus regeneration would
    otherwise strand as a full dead copy. Callers anchor the pattern on
    the layout's full stem (``layout_name(sf_dir, tag, "")``), so a
    distinct layout whose name merely extends the stem survives."""
    parent, keep = os.path.split(out_dir.rstrip("/"))
    try:
        names = os.listdir(parent)
    except OSError:
        return
    pat = re.compile(pattern)
    for name in names:
        if name != keep and pat.match(name):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def source_file_stats(df: DataFrame) -> FileSig | None:
    """Sorted (path, size, mtime_ns) over the plan's input files, or None
    when the plan is fileless / remote. The signature is re-checkable with
    pure ``os.stat`` (see ``stat_sig``) — layout caches use that for a
    zero-JVM-call freshness probe on the warm path."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    parts: list[tuple[str, int, int]] = []
    for uri in sorted(files):
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None  # remote FS: stat not available driver-side
        path = unquote(parsed.path) or uri
        try:
            st = os.stat(path)
        except OSError:
            return None
        parts.append((path, st.st_size, st.st_mtime_ns))
    return tuple(parts)


def stat_sig(paths: list[str]) -> FileSig:
    """Current (path, size, mtime_ns) for `paths`; raises OSError if any
    is gone (caller treats that as stale)."""
    out = []
    for p in paths:
        st = os.stat(p)
        out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(out)


def sig_fingerprint(sig: FileSig) -> str:
    digest = hashlib.sha256(
        "|".join(f"{p}:{s}:{m}" for p, s, m in sig).encode()
    ).hexdigest()[:16]
    return f"f{digest}"


def source_file_fingerprint(df: DataFrame) -> str | None:
    """Hash of sorted (path, size, mtime_ns) over the plan's input files."""
    sig = source_file_stats(df)
    return None if sig is None else sig_fingerprint(sig)


def content_fingerprint(df: DataFrame, *cols: str) -> str:
    """Order-independent content hash: count + sum(xxhash64(cols)).

    Complex-typed columns (e.g. array<float> embeddings) are rendered via
    cast(string) so they participate in the hash.
    """
    atomic = {
        "string", "integer", "long", "short", "byte", "float", "double",
        "boolean", "date", "timestamp", "decimal",
    }
    hash_cols = [
        F.col(c) if df.schema[c].dataType.typeName() in atomic
        else F.col(c).cast("string")
        for c in cols
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: immune to ANSI long-overflow on the hash sum
        F.sum(F.xxhash64(*hash_cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"c{row['n']}-{int(row['h'] or 0) & 0xFFFFFFFFFFFFFFFF:x}"


def predicate_tag(pred: Column) -> str:
    """Short tag of a row predicate's text, for the key of a layout
    built over a slice of a corpus: the file tier above fingerprints the
    files, so it cannot tell two slices of one parquet apart."""
    return "s" + hashlib.sha256(str(pred).encode()).hexdigest()[:12]


def layout_fingerprint(df: DataFrame, *cols: str) -> str:
    """File-stat fingerprint when available, else one content scan."""
    return source_file_fingerprint(df) or content_fingerprint(df, *cols)
