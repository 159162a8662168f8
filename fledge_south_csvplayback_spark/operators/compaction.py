"""Small-files compaction — the unglamorous op every long-lived
100 TB pipeline needs.

Streaming sinks, incremental ingests, and fine-grained partitionBy
layouts all produce many small parquet files; at cluster scale the
cost is real (file-listing RPCs, one scan task per tiny file, parquet
footer overhead per file). Compaction rewrites a directory into
~target-sized files: read (the scan glues small files into splits via
``spark.sql.files.maxPartitionBytes``/``openCostInBytes``), repartition
to ``ceil(input_bytes / target_bytes)``, write. The repartition is a
round-robin exchange — the one unavoidable shuffle, sized so each
output file lands near the target.

Deliberately NOT in this module: compact-in-place (rewriting a live
directory is a table-format job — Delta/Iceberg OPTIMIZE hold the
transaction log this needs; a bare-parquet engine compacts to a new
directory and swaps atomically at the catalog/symlink layer).
"""

from __future__ import annotations

import math
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _require_local(path: str) -> None:
    """Fail loudly on paths this module's os.walk sizing cannot see.

    ``input_bytes``/``partition_cols`` walk the DRIVER'S local
    filesystem; for a remote URI (s3://, hdfs://) they would silently
    return 0 bytes and no partition columns, degrading
    ``compact_parquet`` to a repartition(1) with a flattened layout —
    the opposite of failing. Remote stores need the store's listing
    API (same contract, different walker); until one is wired in,
    misuse raises instead of corrupting the layout."""
    if _URI_SCHEME.match(path):
        raise ValueError(
            f"compaction sizing walks the local filesystem; remote URI "
            f"{path!r} is not supported (its listing must come from the "
            f"object store's API)"
        )
    if not os.path.exists(path):
        raise ValueError(f"compaction input path does not exist: {path!r}")


def input_bytes(path: str) -> int:
    """Total bytes of parquet data files under ``path`` (local FS
    only — raises on remote URIs / missing paths, see
    ``_require_local``)."""
    _require_local(path)
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def fragmentation_stats(path: str) -> dict:
    """Fragmentation snapshot of a parquet layout — the measured input
    to a compaction schedule (round 15, from the ``bm25_liststress``
    arithmetic: a 3-term query against a 200-append index opened 696
    files; compaction cut that to 6). Returns ``n_files``, ``bytes``,
    ``n_partition_dirs`` (leaf dirs holding parquet files whose name is
    ``k=v`` — 0 for a flat layout), and ``worst_partition`` =
    ``(n_files, bytes)`` of the most file-heavy leaf (the
    per-pruned-query file-open bound; the whole layout for a flat
    one). Local FS only, same contract as ``input_bytes``."""
    _require_local(path)
    n_files = total = 0
    per_dir: dict[str, list[int]] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                sz = os.path.getsize(os.path.join(root, f))
                n_files += 1
                total += sz
                c = per_dir.setdefault(root, [0, 0])
                c[0] += 1
                c[1] += sz
    leaf_parts = {
        d: v for d, v in per_dir.items() if "=" in os.path.basename(d)
    }
    worst = max(
        leaf_parts.values(), key=lambda v: v[0], default=[n_files, total]
    )
    return {
        "n_files": n_files,
        "bytes": total,
        "n_partition_dirs": len(leaf_parts),
        "worst_partition": (worst[0], worst[1]),
    }


def needs_compaction(
    path: str,
    max_files_per_partition: int = 64,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> bool:
    """Enforceable compaction trigger (the round-14 horizon lesson:
    a schedule contract should be an API, not a docstring): True when
    the most file-heavy partition (or the flat layout) holds more than
    ``max_files_per_partition`` files AND more than its bytes warrant
    at ``target_bytes`` — a naturally large partition of target-sized
    files is capacity, not fragmentation. The default 64 sits where
    the measured regimes cross: the 20-append BM25 index
    (~52 files/bucket) was still query-neutral locally, the 200-append
    one (~230 files/bucket, 696 opens per 3-term query) was well past
    it (BASELINE.md round-14/15 rows)."""
    s = fragmentation_stats(path)
    wf, wb = s["worst_partition"]
    if wf <= max_files_per_partition:
        return False
    return wf > max(1, math.ceil(wb / target_bytes))


def partition_cols(path: str) -> list[str]:
    """Hive partition columns of a parquet directory, outermost first,
    discovered from the ``k=v`` directory names (the same layout
    ``spark.read.parquet`` infers partition columns from)."""
    _require_local(path)
    cols: list[str] = []
    cur = path
    while os.path.isdir(cur):
        sub = [d for d in os.listdir(cur) if "=" in d and os.path.isdir(os.path.join(cur, d))]
        if not sub:
            break
        cols.append(sub[0].split("=", 1)[0])
        cur = os.path.join(cur, sub[0])
    return cols


# --- versioned-dir + manifest promote (the lakehouse pointer pattern) --------
# Shared by every persisted-index maintenance op (BM25 postings/stats,
# the text shingles/bands/shingle-df tables, media bands): readers
# resolve one small pointer file whose replacement is an atomic POSIX
# rename / per-object store PUT — they never depend on a directory
# overwrite or rename being atomic. A crash at any instruction leaves a
# manifest that names a COMPLETE table.


def manifest_name(stem: str) -> str:
    """The pointer file naming the live version of the ``<stem>`` table."""
    return f"{stem}_MANIFEST"


def manifest_resolve(index_dir: str, manifest: str, fallback: str) -> str:
    """The live dir the manifest names; ``fallback`` ('' = the index
    root itself) before any promote has run."""
    m = os.path.join(index_dir, manifest)
    if os.path.exists(m):
        with open(m) as f:
            return os.path.join(index_dir, f.read().strip())
    return os.path.join(index_dir, fallback) if fallback else index_dir


def table_dir(index_dir: str, stem: str) -> str:
    """The CURRENT dir of the ``<stem>`` table: the version its
    manifest names, or the literal seeded ``<stem>`` dir before any
    promote has run."""
    return manifest_resolve(index_dir, manifest_name(stem), stem)


def manifest_promote(index_dir: str, manifest: str, name: str) -> None:
    """The one cutover: write the pointer aside, fsync, atomic rename."""
    tmp = os.path.join(index_dir, manifest + ".tmp")
    with open(tmp, "w") as f:
        f.write(name)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(index_dir, manifest))


def next_version(cur_name: str, stem: str) -> str:
    if not cur_name.startswith(f"{stem}.v"):
        return f"{stem}.v1"
    return f"{stem}.v{int(cur_name.rsplit('.v', 1)[1]) + 1}"


def _superseded(index_dir: str, stem: str, cur: str) -> list[str]:
    """Every ``<stem>`` dir under ``index_dir`` but the live ``cur``:
    versions an earlier promote replaced, crashed staging attempts,
    and the literal seed dir once a version is live."""
    cur_name = os.path.basename(cur)
    return [
        os.path.join(index_dir, name)
        for name in sorted(os.listdir(index_dir))
        if name != cur_name
        and (name.startswith(f"{stem}.v") or (name == stem and cur_name != stem))
    ]


def sweep_stale_versions(index_dir: str, stem: str, cur: str) -> None:
    """Deferred cleanup: version dirs superseded by an EARLIER promote
    — plus crashed staging leftovers and orphaned ``.tmp`` manifests —
    are garbage; the dir the CURRENT manifest names is never touched,
    so a reader that resolved it before this write keeps what it is
    reading (the read-stability rule of ``fold_ingest_partitions``)."""
    import shutil

    for full in _superseded(index_dir, stem, cur):
        shutil.rmtree(full)
    for name in sorted(os.listdir(index_dir)):
        if name.endswith("_MANIFEST.tmp"):
            os.remove(os.path.join(index_dir, name))


# per-version fold ledger: which ingest_batch partitions the version's
# seed already absorbed (underscore name: invisible to parquet scans,
# like _SUCCESS)
FOLDED_LEDGER = "_FOLDED"


def batch_parts(d: str) -> set[str]:
    if not os.path.isdir(d):
        return set()
    return {x for x in os.listdir(d) if x.startswith("ingest_batch=")}


def read_folded(d: str) -> set[str] | None:
    """The version dir's fold ledger, or None when absent (a dir made
    by code predating the ledger — rescue is then skipped: moving a
    partition that might already be folded would count its rows twice,
    which is worse than leaving a late append behind)."""
    p = os.path.join(d, FOLDED_LEDGER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return {ln.strip() for ln in f if ln.strip()}


def _batch_id(part: str) -> int:
    """Numeric batch id of an ``ingest_batch=N`` partition name."""
    return int(part.split("=", 1)[1])


def union_rows(parts: DataFrame, n_out: int) -> DataFrame:
    """The row-identical fold merge: every folded row lands in the
    seed unchanged, spread round-robin over ``n_out`` files."""
    return parts.drop("ingest_batch").repartition(n_out)


def fold_ingest_partitions(
    spark: SparkSession,
    index_dir: str,
    stem: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    horizon: int | None = None,
    merge: Callable[[DataFrame, int], DataFrame] = union_rows,
) -> str:
    """Fold the ``ingest_batch=N`` partitions of the ``<stem>`` table
    under ``index_dir`` into ONE seed partition ``ingest_batch=-1``,
    staged as ``<stem>.v<N+1>`` and promoted by an atomic manifest
    rename. Returns the live dir. This is the one fold lifecycle of
    the streaming indexes: the text shingles/bands tables and the
    media bands table fold by row union, the text shingle-df table by
    a per-shingle sum (``corpus_ingest.compact_text_neardup_index``).

    MERGE: ``merge(parts, n_out)`` turns the read of the folded
    partitions (``ingest_batch`` column included) into the seed rows
    to write; ``n_out`` = ceil(folded bytes / ``target_bytes``) is the
    file count a row-preserving merge should aim for. The merge owns
    the whole plan of the write — an aggregating merge already ends
    in its own exchange, and nothing is added after it.

    CRASH BEHAVIOR: the new table is fully staged under
    ``<stem>.v<N+1>`` while the manifest still names the old dir, then
    ONE atomic file rename moves the pointer. A crash at ANY
    instruction leaves a manifest that names a complete table — there
    is no window (the retire-then-promote swap this replaced left the
    table briefly absent between two renames). The superseded dir is
    deleted by the NEXT fold (deferred sweep), never by the promote
    itself, so a reader that resolved it before the promote keeps a
    complete table for as long as it reads.

    CONCURRENT APPENDS: a batch that resolved the old dir may write
    its ``ingest_batch=N`` partition there after the merge pinned its
    input — the fold would miss it, and a blind deferred delete would
    lose it. Every staged version therefore records which partitions
    its seed absorbed (the ``_FOLDED`` ledger), and the next fold's
    sweep rescues (moves, not deletes) any superseded-dir partition
    absent from the live ledger. The promote never touches the old
    dir — a mid-promote move would break read stability and leave a
    crash window with moved partitions in an unpromoted dir — so a
    completed concurrent append waits one fold cycle in the
    superseded dir. A batch MID-write at the moment of a rescue move
    is the one remaining race, which is why the contract is still:
    fold between batches.

    HORIZON (round-14 advice: the contract as an enforceable API, not
    a docstring): with ``horizon=H`` only batches with id < H fold
    into the seed; batches >= H are CARRIED into the promoted version
    untouched, keeping their ``ingest_batch=N`` identity — so a
    re-delivered batch still excludes its own rows from its probe and
    a caller with a LIVE stream can fold safely by passing its
    checkpoint horizon instead of waiting for full downtime. With
    ``horizon=None`` (default) everything folds, which is only safe
    past the stream's checkpoint horizon — the original contract. The
    deferred-sweep RESCUE is deliberately NOT horizon-filtered:
    rescue moves a partition intact (identity preserved, probe
    exclusion unbroken); only the merge erases identity, and skipping
    rescue would delete the rows with the superseded dir. A fold with
    nothing below the horizon keeps the current version (the sweep
    still runs).
    """
    import shutil

    cur = table_dir(index_dir, stem)
    folded = read_folded(cur)
    for full in _superseded(index_dir, stem, cur):
        if folded is not None:
            for part in sorted(batch_parts(full) - folded - {"ingest_batch=-1"}):
                dst = os.path.join(cur, part)
                if not os.path.exists(dst):
                    os.rename(os.path.join(full, part), dst)
        shutil.rmtree(full)

    nxt = next_version(os.path.basename(cur), stem)
    staged = os.path.join(index_dir, nxt)
    # pin the merge's input to the partitions present NOW — the fold
    # ledger must describe exactly what the seed absorbed. The seed
    # (-1) always folds; with a horizon, batches at/past it are
    # carried into the new version intact instead.
    all_parts = sorted(batch_parts(cur))
    if horizon is None:
        parts, carry = all_parts, []
    else:
        parts = [p for p in all_parts if _batch_id(p) < horizon]
        carry = [p for p in all_parts if _batch_id(p) >= horizon]
    if not any(_batch_id(p) >= 0 for p in parts):
        return cur
    fold_bytes = sum(
        input_bytes(os.path.join(cur, p)) for p in parts
    )
    n_out = max(1, math.ceil(fold_bytes / target_bytes))
    merged = merge(
        spark.read.option("basePath", cur).parquet(
            *[os.path.join(cur, p) for p in parts]
        ),
        n_out,
    )
    merged.write.mode("overwrite").parquet(f"{staged}/ingest_batch=-1")
    with open(os.path.join(staged, FOLDED_LEDGER), "w") as f:
        f.write("\n".join(parts) + "\n")
    # carry un-foldable live batches into the promoted version AFTER
    # the merge write (their bytes never entered it) and BEFORE the
    # promote: readers of the new version see every row the old one
    # held. Crash between these renames and the promote leaves the
    # manifest on `cur` with the moved partitions in the staged dir —
    # they are absent from `cur`'s ledger, so the NEXT fold's deferred
    # sweep rescues them straight back into the current table (the
    # same one-cycle-invisibility class as a concurrent append).
    for p in carry:
        dst = os.path.join(staged, p)
        if not os.path.exists(dst):
            os.rename(os.path.join(cur, p), dst)
    manifest_promote(index_dir, manifest_name(stem), nxt)
    return staged


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> int:
    """Rewrite ``in_dir`` into ``out_dir`` as ~``target_bytes`` files;
    returns the output data-file count.

    Flat input: ``repartition(n)`` (round-robin, not keyed) spreads
    rows evenly regardless of input skew — a coalesce() would glue
    whole input partitions and inherit their size imbalance, and can
    starve parallelism below the cluster's core count during the
    write. Hive-partitioned input: the discovered partition layout is
    PRESERVED (flattening it would silently cost every downstream
    reader its partition pruning), and the pre-write repartition keys
    on the partition columns so each value's rows land in one task —
    one output file per value, not n×|values| fragments.

    ``target_bytes`` also bounds file sizes WITHIN the partitioned
    layout, via the writer's ``maxRecordsPerFile`` rather than a salt
    column: records-per-target is estimated from the input's measured
    bytes/record (the row count is a parquet-footer aggregate, not a
    data scan), and the writer then rolls a new file whenever a task's
    output exceeds it — an oversized partition value splits into
    ~target files EXACTLY (a salt hashed into the task count collides
    and under-splits; measured ~0.63k distinct slots for k salt
    values, leaving files near 2× target), while under-target values
    still produce one file each. The estimate assumes output
    compression tracks input compression — true for a same-codec
    parquet rewrite."""
    total_bytes = input_bytes(in_dir)
    n = max(1, math.ceil(total_bytes / target_bytes))
    df = spark.read.parquet(in_dir)
    pcols = partition_cols(in_dir)
    n_records = df.count()  # parquet metadata-only aggregate
    if n_records > 0 and total_bytes > 0:
        per_record = max(1.0, total_bytes / n_records)
        max_records = max(1, int(target_bytes / per_record))
    else:
        max_records = 0  # empty input: no bound needed
    writer = (df.repartition(n, *pcols) if pcols else df.repartition(n)).write
    if max_records:
        writer = writer.option("maxRecordsPerFile", max_records)
    writer.mode("overwrite").partitionBy(*pcols).parquet(out_dir)
    total = 0
    for root, _dirs, files in os.walk(out_dir):
        total += sum(1 for f in files if f.endswith(".parquet"))
    return total
