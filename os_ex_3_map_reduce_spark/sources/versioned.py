"""Manifest-versioned parquet table: snapshot isolation + time travel.

The one mechanism behind every lakehouse table format (Delta Lake's
_delta_log, Iceberg's snapshot manifests), reduced to its essentials
over plain parquet:

- **Data files are immutable.** Every commit writes its files under a
  fresh ``data/c{N}/`` directory; no file is ever modified in place.
- **A manifest is a snapshot.** ``_manifests/v{N}.json`` lists exactly
  the data files visible at version N (each with its commit dir and
  bucket). Reading a version = reading precisely that file list —
  nothing else, regardless of what later commits added.
- **Manifest publication is the commit point.** Commits stage data
  files first, then publish the manifest via temp-file +
  ``os.link`` — atomic on POSIX AND refusing to replace, so a reader
  either sees the complete new version or the previous one (never
  partial state), and creating a version that already exists raises
  even under a racing committer (optimistic concurrency: the loser
  must retry on top of the winner's version; see
  :func:`_publish_exclusive` for why rename alone cannot give both
  properties).
- **Deletes are COPY-ON-WRITE.** A delete rewrites only the files that
  contain matching rows (without the matches) and carries every
  untouched file BY REFERENCE into the new manifest — the Delta/
  Iceberg CoW shape. At 100 TB this is the difference between
  rewriting a table and rewriting the 0.1% of files a predicate
  touches; the bucketed layout below is what keeps the touched set
  small for key-local predicates.
- **Or MERGE-ON-READ.** :func:`vt_delete_mor` rewrites NOTHING:
  it commits POSITION-DELETE files — (file, pos) rows naming the
  deleted row positions inside existing data files (the Iceberg v2
  position-delete / Delta deletion-vector shape, built on Spark's
  ``_metadata.row_index`` hidden column). Readers anti-join the
  delete relation at scan time; :func:`vt_compact_mor` later folds
  pending deletes into rewritten files and clears them. MoR trades
  write amplification (CoW pays O(bucket) rewrite per delete) for
  read amplification (every snapshot read carries the anti-join) —
  the knob every lakehouse format exposes; the manifest records
  which one each commit chose.

Layout: rows are bucketed by ``pmod(bucket_key, nbuckets)`` and
written ``partitionBy("bucket")`` with one file per bucket per commit
(the ivf_write hash-colocation trick), so per-file pruning aligns with
the bucket key and the per-file match probe below is one scan with a
groupBy, not a per-file loop.

Driver-side state is bounded: manifests carry file NAMES (a few dozen
strings), never data; the CoW match probe collects one row per
matching FILE (≤ nbuckets x versions).
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFESTS = "_manifests"
#: vt_vacuum only collects commit stagings at least this old: a
#: younger *.tmp.* may be a LIVE in-flight commit's staging (sweeping
#: it would crash the committer mid-publish instead of giving it a
#: clean conflict); crashed commits stop touching theirs, so age is
#: the discriminator (the Delta retention-window idea, scaled down).
_STAGING_AGE_FLOOR_SEC = 300
#: Public alias (ADVICE r12): operators/postings.py shares the same
#: vacuum age-floor policy for its segment stagings; importing the
#: private name coupled it to this module's internals, breaking only
#: at call time on a rename. The policy constant IS cross-module —
#: export it as such.
STAGING_AGE_FLOOR_SEC = _STAGING_AGE_FLOOR_SEC


def _manifest_file(path: str, version: int) -> str:
    return f"{path}/{_MANIFESTS}/v{version:06d}.json"


def _versions(path: str) -> list[int]:
    """Committed versions present on disk, ascending. NOT necessarily
    contiguous from 0: :func:`vt_vacuum` removes old manifests."""
    return sorted(
        int(os.path.basename(m)[1:7])
        for m in glob.glob(f"{path}/{_MANIFESTS}/v*.json")
    )


def vt_current_version(path: str) -> int | None:
    """Highest committed version, or None for a nonexistent table."""
    vs = _versions(path)
    return vs[-1] if vs else None


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_file(path, version)) as fh:
        return json.load(fh)


def _publish_exclusive(final: str, manifest: dict, errmsg: str) -> None:
    """Publish one immutable manifest at ``final``, failing (never
    clobbering) if it already exists — the atomic commit point every
    versioned chain here rests on.

    ``os.link`` — not ``os.rename`` — is what makes the refusal
    atomic: rename silently REPLACES an existing destination, so the
    naive exists-check-then-rename has a window where two committers
    racing the same version both pass the check and the later rename
    overwrites the earlier commit (a lost update the winner never
    learns about). link(2) fails with EEXIST instead of replacing, so
    exactly one racer publishes no matter how the schedules
    interleave; readers still see only complete manifests (the inode
    is fully written before it gains the final name). The early
    exists() check is kept as a fast path for the common sequential
    conflict. Requires a filesystem with hard links (POSIX local FS;
    on object stores the committer must use the store's own
    if-none-match / conditional-put primitive instead)."""
    if os.path.exists(final):
        raise FileExistsError(errmsg)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    # unique per ATTEMPT, not per process: two threads of one driver
    # (e.g. concurrent streaming queries) sharing a pid-keyed temp
    # name would interleave writes into the same staging file
    tmp = f"{final}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise FileExistsError(errmsg) from None
    finally:
        os.unlink(tmp)


def _commit(path: str, version: int, manifest: dict) -> None:
    """Publish the manifest for ``version`` via
    :func:`_publish_exclusive` — refuses to clobber an existing
    version (lost-update guard: a concurrent committer must rebase
    and retry)."""
    _publish_exclusive(
        _manifest_file(path, version),
        manifest,
        f"version {version} already committed at {path} — rebase on "
        "the current version and retry",
    )


def _stage_files(
    df: DataFrame,
    path: str,
    commit_dir: str,
    nbuckets: int,
    stats_cols: list[str] | None = None,
) -> list[dict]:
    """Write ``df`` (which must carry an int ``bucket`` column) into
    ``data/{commit_dir}/bucket=K/`` with one file per bucket, and
    return manifest entries for the files produced.

    ``stats_cols``: record per-file MIN/MAX for these columns in the
    manifest (the Iceberg manifest-stats / Delta file-stats shape) —
    exact per file because a commit stages one file per bucket, so a
    per-bucket aggregate (one tiny job, <= nbuckets rows collected) IS
    the per-file stats. Values are stored stringified; timestamps
    render ISO, which compares consistently with the stringified
    probe bounds in :func:`vt_scan`."""
    out = f"{path}/data/{commit_dir}"
    df.repartition(nbuckets, "bucket").sortWithinPartitions(
        "bucket"
    ).write.partitionBy("bucket").parquet(out)
    stats: dict[int, dict] = {}
    if stats_cols:
        aggs = []
        for c in stats_cols:
            aggs += [
                F.min(c).cast("string").alias(f"min_{c}"),
                F.max(c).cast("string").alias(f"max_{c}"),
            ]
        for r in df.groupBy("bucket").agg(*aggs).collect():
            stats[r.bucket] = {
                c: [r[f"min_{c}"], r[f"max_{c}"]] for c in stats_cols
            }
    entries = []
    for f in sorted(glob.glob(f"{out}/bucket=*/*.parquet")):
        rel = os.path.relpath(f, path)
        bucket = int(rel.split("bucket=")[1].split("/")[0])
        e = {"path": rel, "commit": commit_dir, "bucket": bucket}
        if bucket in stats:
            e["stats"] = stats[bucket]
        entries.append(e)
    return entries


def vt_write(
    df: DataFrame,
    path: str,
    bucket_key: str,
    nbuckets: int = 8,
    stats_cols: list[str] | None = None,
) -> int:
    """Create the table: bucket rows by ``pmod(bucket_key, nbuckets)``,
    stage the data files, commit manifest v0. ``stats_cols`` opts the
    table into per-file MIN/MAX manifest stats (appends keep
    recording them; :func:`vt_scan` prunes by them). Returns the
    version."""
    if vt_current_version(path) is not None:
        raise FileExistsError(f"versioned table already exists at {path}")
    b = df.withColumn(
        "bucket", F.pmod(F.col(bucket_key), F.lit(nbuckets)).cast("int")
    )
    files = _stage_files(b, path, "c0", nbuckets, stats_cols)
    _commit(
        path,
        0,
        {
            "version": 0,
            "parent": None,
            "op": "create",
            "nbuckets": nbuckets,
            "bucket_key": bucket_key,
            "stats_cols": stats_cols or [],
            "files": files,
            "files_rewritten": 0,
            "files_carried": 0,
        },
    )
    return 0


def _read_entries(
    spark: SparkSession,
    path: str,
    entries: list[dict],
    with_rowid: bool = False,
) -> DataFrame | None:
    """Union the data files of ``entries``, grouped by commit dir so
    the ``basePath`` option restores the ``bucket`` partition column.
    With ``with_rowid``, each scan also projects the stable row id the
    position-delete files key on — (``_dfile`` path-relative data
    file, ``_dpos`` = ``_metadata.row_index``) — projected INSIDE each
    per-commit scan (the hidden ``_metadata`` column resolves against
    a file source, not a union). Returns None for an empty entry
    list.

    Schema evolution is ADDITIVE (the Delta/Iceberg contract): a later
    commit may carry columns earlier files lack; the union fills the
    missing columns with NULL, so old snapshots read with their own
    schema and the current snapshot reads with the widest one. A CoW
    rewrite of old files upgrades them to the current schema (NULLs
    materialized) as a side effect."""
    by_commit: dict[str, list[str]] = {}
    for e in entries:
        by_commit.setdefault(e["commit"], []).append(f"{path}/{e['path']}")
    out = None
    for commit, files in sorted(by_commit.items()):
        part = spark.read.option(
            "basePath", f"{path}/data/{commit}"
        ).parquet(*sorted(files))
        if with_rowid:
            part = part.select(
                "*",
                F.concat(
                    F.lit("data/"),
                    F.substring_index(
                        F.col("_metadata.file_path"), "/data/", -1
                    ),
                ).alias("_dfile"),
                F.col("_metadata.row_index").alias("_dpos"),
            )
        out = (
            part
            if out is None
            else out.unionByName(part, allowMissingColumns=True)
        )
    return out


def _read_delete_relation(
    spark: SparkSession, path: str, man: dict
) -> DataFrame | None:
    """The manifest's pending position-delete rows as one DataFrame
    (``_dfile``, ``_dpos``), or None when the snapshot has no delete
    files."""
    dels = man.get("delete_files", [])
    if not dels:
        return None
    return spark.read.parquet(*sorted(f"{path}/{e['path']}" for e in dels))


def _snapshot(
    spark: SparkSession,
    path: str,
    man: dict,
    entries: list[dict] | None = None,
) -> DataFrame | None:
    """Read ``entries`` (default: the whole manifest) with the
    manifest's pending position deletes applied — the merge-on-read
    scan. The delete relation is broadcast into a left-anti join:
    position deletes are bounded by the rows matched between
    compactions (the same assumption behind Delta's per-file
    deletion-vector bitmaps); a table whose delete backlog outgrows
    broadcast is overdue for :func:`vt_compact_mor`. Delete rows
    aimed at files outside ``entries`` (or at rewritten, no-longer-
    referenced paths) simply never match — commit dirs are never
    reused, so a path can't be reincarnated."""
    if entries is None:
        entries = man["files"]
    deletes = _read_delete_relation(spark, path, man)
    data = _read_entries(
        spark, path, entries, with_rowid=deletes is not None
    )
    if deletes is None or data is None:
        return data
    cols = [c for c in data.columns if c not in ("_dfile", "_dpos")]
    return data.join(
        F.broadcast(deletes), ["_dfile", "_dpos"], "left_anti"
    ).select(*cols)


def vt_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: exactly the files of ``version`` (default:
    current), minus any position-deleted rows the manifest's
    ``delete_files`` name (merge-on-read). Older snapshots stay
    readable after later commits — the time-travel contract."""
    v = vt_current_version(path) if version is None else version
    if v is None or not os.path.exists(_manifest_file(path, v)):
        raise FileNotFoundError(f"no version {version} at {path}")
    man = _read_manifest(path, v)
    return _snapshot(spark, path, man)


def vt_count(
    spark: SparkSession, path: str, version: int | None = None
) -> int:
    """Exact snapshot row count served from METADATA when safe — the
    Delta/Iceberg numRecords shape (r15 optimization, guide §6: table
    formats answer COUNT(*) from the log, not a scan).

    Fast path: a snapshot with no pending ``delete_files`` is exactly
    the concatenation of its manifest's immutable data files, so its
    cardinality is the sum of the files' parquet footer row counts —
    ground truth written by the file writer, exact by construction.
    Cost is O(#files) driver-side footer reads (~0.2 ms each, no
    cluster job); at production scale the count would additionally be
    persisted per-entry in the manifest at commit time, making it
    O(1) per manifest — the footer read is the schema-change-free
    local form of the same idea.

    Fallback (merge-on-read snapshots, i.e. ``delete_files`` present):
    the scan count via :func:`vt_read` — position deletes may overlap
    or target rewritten files, so only the anti-join knows how many
    rows actually die. ``SPARK_GRAFT_NO_META_COUNT=1`` forces the
    fallback everywhere (A/B and belt-and-braces switch)."""
    v = vt_current_version(path) if version is None else version
    if v is None or not os.path.exists(_manifest_file(path, v)):
        raise FileNotFoundError(f"no version {version} at {path}")
    return _manifest_count(spark, path, _read_manifest(path, v))


def _manifest_count(spark: SparkSession, path: str, man: dict) -> int:
    """The :func:`vt_count` fast/fallback logic against an explicit
    manifest — shared by main-chain and branch counts."""
    if man.get("delete_files") or os.environ.get(
        "SPARK_GRAFT_NO_META_COUNT"
    ):
        return _snapshot(spark, path, man).count()
    import pyarrow.parquet as _pq

    return sum(
        _pq.ParquetFile(f"{path}/{e['path']}").metadata.num_rows
        for e in man["files"]
    )


def vt_count_branch(
    spark: SparkSession, path: str, name: str, bversion: int | None = None
) -> int:
    """Exact BRANCH-snapshot row count served from metadata when safe
    (r16; the branch twin of :func:`vt_count` — same delete-free
    footer fast path, same MoR scan fallback, same
    ``SPARK_GRAFT_NO_META_COUNT`` kill switch)."""
    return _manifest_count(spark, path, _branch_manifest(path, name, bversion))


def vt_has_tag(path: str, tag: str) -> bool:
    """True if any committed manifest carries ``tag`` — the replay
    check an exactly-once streaming sink runs before appending a
    micro-batch (tag = batch id): a replayed batch finds its tag
    already committed and skips, making the append idempotent."""
    return any(
        _read_manifest(path, v).get("tag") == tag for v in _versions(path)
    )


def vt_append(df: DataFrame, path: str, tag: str | None = None) -> int:
    """Append-only commit: stage the new rows' files (bucketed with
    the table's own key/width from the manifest) and commit a manifest
    carrying every previous file by reference plus the new ones —
    no existing file is read or rewritten, the cheapest commit kind.
    ``tag`` (stored in the manifest) lets a streaming sink make the
    append idempotent via :func:`vt_has_tag`. Returns the new
    version."""
    cur = vt_current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, cur)
    b = df.withColumn(
        "bucket",
        F.pmod(F.col(man["bucket_key"]), F.lit(man["nbuckets"])).cast("int"),
    )
    new_version = cur + 1
    new_files = _stage_files(
        b, path, f"c{new_version}", man["nbuckets"],
        man.get("stats_cols") or None,
    )
    _commit(
        path,
        new_version,
        {
            "version": new_version,
            "parent": cur,
            "op": "append",
            "tag": tag,
            "nbuckets": man["nbuckets"],
            "bucket_key": man["bucket_key"],
            "stats_cols": man.get("stats_cols", []),
            "files": man["files"] + new_files,
            "delete_files": man.get("delete_files", []),
            "files_rewritten": 0,
            "files_carried": len(man["files"]),
        },
    )
    return new_version


def vt_delete(spark: SparkSession, path: str, predicate: str) -> int:
    """Copy-on-write delete: commit a new version in which rows
    matching ``predicate`` (a SQL expression over the table's columns)
    are gone. Only files that CONTAIN matching rows are rewritten
    (grouped per commit dir, one distributed filter-and-stage each);
    untouched files are carried by reference. Returns the new version.
    """
    cur = vt_current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, cur)
    # Per-relation ``_metadata`` projection rather than
    # input_file_name(): the latter rejects multi-source plans, and a
    # merge-on-read snapshot joins the delete relation into the scan.
    keyed = _read_entries(spark, path, man["files"], with_rowid=True)
    pending = _read_delete_relation(spark, path, man)
    if pending is not None:
        keyed = keyed.join(
            F.broadcast(pending), ["_dfile", "_dpos"], "left_anti"
        )
    probe = (
        keyed.where(predicate).select("_dfile").distinct().collect()
    )  # bounded: one row per matching FILE (<= nbuckets x commits)
    hit = {r._dfile for r in probe}
    carried = [e for e in man["files"] if e["path"] not in hit]
    hit_entries = [e for e in man["files"] if e["path"] in hit]
    new_version = cur + 1
    new_files: list[dict] = []
    if hit_entries:
        # Apply pending position deletes while rewriting: a CoW
        # rewrite of a file folds its deletion vector in. Delete rows
        # aimed at files we do NOT rewrite simply don't match here and
        # are carried forward below.
        kept = _snapshot(spark, path, man, hit_entries).where(
            f"NOT ({predicate})"
        )
        new_files = _stage_files(
            kept, path, f"c{new_version}", man["nbuckets"]
        )
    _commit(
        path,
        new_version,
        {
            "version": new_version,
            "parent": cur,
            "op": "delete",
            "predicate": predicate,
            "nbuckets": man["nbuckets"],
            "bucket_key": man["bucket_key"],
            "files": carried + new_files,
            "delete_files": man.get("delete_files", []),
            "files_rewritten": len(hit_entries),
            "files_carried": len(carried),
        },
    )
    return new_version


def vt_history(path: str) -> list[dict]:
    """All manifests, oldest first, file lists elided to counts."""
    out = []
    for v in _versions(path):
        m = _read_manifest(path, v)
        m["n_files"] = len(m.pop("files"))
        m["n_delete_files"] = len(m.pop("delete_files", []))
        out.append(m)
    return out


def vt_vacuum(path: str, keep_last: int = 2) -> dict:
    """Retention pass: drop all but the newest ``keep_last`` manifests
    and delete every data file no surviving manifest references — the
    Delta VACUUM / Iceberg expire-snapshots step that bounds storage
    growth once old snapshots are past their reproducibility window.
    Order matters for crash safety: manifests are removed FIRST (a
    reader can no longer resolve the dropped versions), then the
    orphaned files — a crash between the two leaves unreferenced
    files (re-vacuumable garbage), never a readable version with
    missing files. BRANCHES ARE GC ROOTS: every manifest under
    ``_branches/`` keeps its files alive regardless of main's
    retention window — a branch forked at a long-vacuumed main
    version must stay readable until the branch itself is deleted
    (the Iceberg expire-snapshots ref-retention rule; without this,
    vacuuming main after a fork would tear files out from under the
    branch — regression-tested). NOT safe concurrently with WRITERS
    (the same hazard Delta mitigates with its retention window): an
    in-flight commit's staged data files are unreferenced until its
    manifest publishes, so a simultaneous vacuum would sweep them —
    run vacuum in a maintenance window, or add an age floor before
    deleting in multi-writer deployments. Returns {versions_dropped,
    files_deleted, files_kept}."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no versioned table at {path}")
    if keep_last < 1:
        raise ValueError("vt_vacuum: keep_last must be >= 1")
    drop, keep = vs[:-keep_last], vs[-keep_last:]

    def _refs(v: int) -> set[str]:
        m = _read_manifest(path, v)
        return {e["path"] for e in m["files"]} | {
            e["path"] for e in m.get("delete_files", [])
        }

    referenced = set().union(*(_refs(v) for v in keep))
    # branch AND tag manifests are GC roots (Iceberg ref retention)
    roots = glob.glob(f"{path}/{_BRANCHES}/*/v*.json") + glob.glob(
        f"{path}/{_TAGS}/*.json"
    )
    for bman in roots:
        with open(bman) as fh:
            m = json.load(fh)
        referenced |= {e["path"] for e in m["files"]} | {
            e["path"] for e in m.get("delete_files", [])
        }
    for v in drop:
        os.remove(_manifest_file(path, v))
    # full orphan sweep (not just the dropped manifests' refs): every
    # data/delete file no surviving manifest references is garbage —
    # this is what reclaims a DELETED branch's files and any crash
    # debris from interrupted commits
    deleted = 0
    on_disk = glob.glob(f"{path}/data/**/*.parquet", recursive=True)
    on_disk += glob.glob(f"{path}/deletes/**/*.parquet", recursive=True)
    for f in sorted(on_disk):
        if os.path.relpath(f, path) not in referenced:
            os.remove(f)
            deleted += 1
    # manifest stagings a crashed commit left behind (invisible to
    # readers — _versions() only matches v*.json — but sweepable).
    # All three publish roots are swept, including _tags (vt_tag also
    # stages via _commit_to — ADVICE r11). An AGE FLOOR guards each
    # unlink: a staging younger than the floor may belong to a LIVE
    # in-flight commit, and sweeping it would make that committer's
    # os.link publish fail with FileNotFoundError instead of a clean
    # conflict — only stale debris (crashed commits by definition
    # stopped touching their staging) is old enough to collect.
    now = time.time()
    for t in (
        glob.glob(f"{path}/{_MANIFESTS}/*.tmp.*")
        + glob.glob(f"{path}/{_BRANCHES}/*/*.tmp.*")
        + glob.glob(f"{path}/{_TAGS}/*.tmp.*")
    ):
        try:
            if now - os.path.getmtime(t) >= _STAGING_AGE_FLOOR_SEC:
                os.remove(t)
        except FileNotFoundError:
            pass  # another maintenance pass got there first
    return {
        "versions_dropped": len(drop),
        "files_deleted": deleted,
        "files_kept": len(referenced),
    }


def vt_delete_mor(spark: SparkSession, path: str, predicate: str) -> int:
    """MERGE-ON-READ delete: commit position-delete files instead of
    rewriting data (the Iceberg v2 position-delete / Delta
    deletion-vector shape). Matching LIVE rows (pending deletes
    applied first, so re-deleting is idempotent) are projected to
    (``_dfile``, ``_dpos``) — path-relative data file +
    ``_metadata.row_index``, a stable row id because data files are
    immutable — and staged under ``deletes/d{N}/``; the new manifest
    carries every data file BY REFERENCE (``files_rewritten`` is 0 by
    construction) plus the accumulated delete files. Write cost is
    O(matched rows) regardless of file sizes — the high-churn /
    small-delete regime where CoW's bucket rewrites dominate; the
    price is the anti-join every read pays until
    :func:`vt_compact_mor` folds the backlog in. Returns the new
    version."""
    cur = vt_current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, cur)
    keyed = _read_entries(spark, path, man["files"], with_rowid=True)
    pending = _read_delete_relation(spark, path, man)
    if pending is not None:
        keyed = keyed.join(
            F.broadcast(pending), ["_dfile", "_dpos"], "left_anti"
        )
    hits = keyed.where(predicate).select("_dfile", "_dpos")
    new_version = cur + 1
    out = f"{path}/deletes/d{new_version}"
    # rows_deleted RIDES the delete-file write via an Observation (r16;
    # the r15 postings-stats shape): it is exactly the count of the
    # rows the write materializes, so the former re-read-and-count job
    # (one per MoR delete — q_vt_changes, q_mor_delete, and the
    # streaming CDC paths each pay it) disappears.
    from pyspark.sql import Observation

    obs = Observation()
    hits.observe(obs, F.count(F.lit(1)).alias("n")).coalesce(1).write.parquet(
        out
    )
    new_dels = [
        {"path": os.path.relpath(f, path), "commit": f"d{new_version}"}
        for f in sorted(glob.glob(f"{out}/*.parquet"))
    ]
    rows_deleted = int(obs.get["n"])
    _commit(
        path,
        new_version,
        {
            "version": new_version,
            "parent": cur,
            "op": "delete-mor",
            "predicate": predicate,
            "nbuckets": man["nbuckets"],
            "bucket_key": man["bucket_key"],
            "files": man["files"],
            "delete_files": man.get("delete_files", []) + new_dels,
            "files_rewritten": 0,
            "files_carried": len(man["files"]),
            "rows_deleted": rows_deleted,
        },
    )
    return new_version


def vt_compact_mor(spark: SparkSession, path: str) -> int:
    """Fold the pending position-delete backlog into rewritten data
    files and clear ``delete_files`` — the Iceberg rewrite-data-files
    / Delta PURGE maintenance action that converts read amplification
    back into clean scans. Only data files with >= 1 pending delete
    position are rewritten; every other file is carried by reference.
    The compacted snapshot must read identically to its parent — the
    invariant the q_mor_delete oracle re-derives. Old delete files
    stay on disk for older snapshots' time travel until
    :func:`vt_vacuum` drops them. Returns the new version."""
    cur = vt_current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, cur)
    pending = _read_delete_relation(spark, path, man)
    if pending is None:
        raise ValueError(f"no pending delete files to compact at {path}")
    # Files that actually have pending positions (stale rows aimed at
    # already-rewritten paths fall out of the intersection).
    hit = {r._dfile for r in pending.select("_dfile").distinct().collect()}
    hit &= {e["path"] for e in man["files"]}
    carried = [e for e in man["files"] if e["path"] not in hit]
    hit_entries = [e for e in man["files"] if e["path"] in hit]
    new_version = cur + 1
    new_files: list[dict] = []
    if hit_entries:
        kept = _snapshot(spark, path, man, hit_entries)
        new_files = _stage_files(
            kept, path, f"c{new_version}", man["nbuckets"]
        )
    _commit(
        path,
        new_version,
        {
            "version": new_version,
            "parent": cur,
            "op": "compact-mor",
            "nbuckets": man["nbuckets"],
            "bucket_key": man["bucket_key"],
            "files": carried + new_files,
            "delete_files": [],
            "files_rewritten": len(hit_entries),
            "files_carried": len(carried),
        },
    )
    return new_version


def vt_upsert(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key: str,
    tag: str | None = None,
) -> int:
    """Copy-on-write MERGE (the Delta ``MERGE INTO`` / upsert shape):
    rows in ``changes`` REPLACE current rows with the same ``key``;
    unmatched keys INSERT. Only the buckets that receive changes are
    rewritten — each affected bucket's surviving old rows and its
    incoming changes are staged as one new file; every other bucket
    is carried by reference. The affected-bucket set is the distinct
    ``pmod(bucket_key)`` of the changes (bounded driver collect:
    <= nbuckets rows). At 100 TB this is the nightly-merge cost
    model: you pay for the buckets your keys touch, not the table.

    ``key`` (the MERGE match key) and the table's bucket key may
    differ (e.g. match on order id, bucket by customer) — but then
    an update must not CHANGE the bucket-key value: the old row is
    only removed from buckets the change row hashes to. Same
    constraint every bucketed/partitioned table format places on its
    layout key. ``tag`` (stored in the manifest AT COMMIT TIME, the
    vt_append contract) lets a streaming CDC sink make the merge
    idempotent via :func:`vt_has_tag` — committed manifests are
    immutable, so sink bookkeeping must ride the commit, never be
    patched in afterward. Returns the new version."""
    cur = vt_current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, cur)
    nb = man["nbuckets"]
    ch = changes.withColumn(
        "bucket", F.pmod(F.col(man["bucket_key"]), F.lit(nb)).cast("int")
    )
    affected = sorted(
        r.bucket for r in ch.select("bucket").distinct().collect()
    )
    carried = [e for e in man["files"] if e["bucket"] not in set(affected)]
    hit_entries = [e for e in man["files"] if e["bucket"] in set(affected)]
    new_version = cur + 1
    merged = ch
    if hit_entries:
        old = _snapshot(spark, path, man, hit_entries)
        survivors = old.join(
            ch.select(F.col(key)).distinct(), key, "left_anti"
        )
        merged = survivors.unionByName(ch, allowMissingColumns=True)
    new_files = _stage_files(merged, path, f"c{new_version}", nb)
    _commit(
        path,
        new_version,
        {
            "version": new_version,
            "parent": cur,
            "op": "upsert",
            "tag": tag,
            "nbuckets": nb,
            "bucket_key": man["bucket_key"],
            "files": carried + new_files,
            "delete_files": man.get("delete_files", []),
            "files_rewritten": len(hit_entries),
            "files_carried": len(carried),
        },
    )
    return new_version


def vt_optimize(
    spark: SparkSession, path: str, max_files_per_bucket: int = 1
) -> int:
    """Bin-packing maintenance (the Delta OPTIMIZE / Iceberg
    rewrite-data-files small-file compaction): every bucket whose file
    count exceeds ``max_files_per_bucket`` — the debris appends leave
    behind, one file per bucket per commit — has ALL its files
    rewritten into one file per bucket; other buckets are carried by
    reference. Pending position deletes are folded into the rewritten
    buckets (same contract as CoW rewrites) and the delete files are
    carried for the rest. Purely physical: the optimized snapshot must
    read identically to its parent. At 100 TB this is the nightly
    job that keeps per-bucket file counts (and therefore scan task
    counts and open-file overhead) bounded no matter how many
    streaming micro-commits landed. Returns the new version."""
    cur = vt_current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, cur)
    per_bucket: dict[int, int] = {}
    for e in man["files"]:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    hot = {b for b, n in per_bucket.items() if n > max_files_per_bucket}
    carried = [e for e in man["files"] if e["bucket"] not in hot]
    hit_entries = [e for e in man["files"] if e["bucket"] in hot]
    new_version = cur + 1
    new_files: list[dict] = []
    if hit_entries:
        kept = _snapshot(spark, path, man, hit_entries)
        new_files = _stage_files(
            kept, path, f"c{new_version}", man["nbuckets"]
        )
    _commit(
        path,
        new_version,
        {
            "version": new_version,
            "parent": cur,
            "op": "optimize",
            "nbuckets": man["nbuckets"],
            "bucket_key": man["bucket_key"],
            "files": carried + new_files,
            "delete_files": man.get("delete_files", []),
            "files_rewritten": len(hit_entries),
            "files_carried": len(carried),
        },
    )
    return new_version


def vt_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """CHANGE DATA FEED between two snapshots (the Delta CDF / Iceberg
    changelog shape), computed from the MANIFEST DIFF: a file carried
    by reference in both manifests is immutable and (absent new delete
    rows against it) cannot contribute a change, so only files present
    in exactly one manifest — plus files targeted by delete rows added
    between the versions — are ever read. Within that affected set the
    row-level diff is an exact multiset difference (exceptAll on the
    full row), which cancels the rows a CoW rewrite merely MOVED
    between files; an upsert's update therefore appears as
    delete+insert of the changed row only. Returns the union with a
    ``_change_type`` column ('insert' | 'delete'). Files whose ONLY
    change is new delete rows skip the set-diff entirely: their change
    set is exactly the newly-deleted positions, emitted by one scan of
    the targeted files inner-joined (broadcast) with the new delete
    positions — so even a delete scattered across every bucket costs
    one read of what it touched, not two reads plus an exceptAll
    shuffle (r12 verdict #7; measured A/B in PLANS.md). At 100 TB the
    CDF cost is proportional to what changed, never to the table."""
    man_from = _read_manifest(path, from_version)
    man_to = _read_manifest(path, to_version)
    paths_from = {e["path"]: e for e in man_from["files"]}
    paths_to = {e["path"]: e for e in man_to["files"]}
    structural = set(paths_from) ^ set(paths_to)
    # files targeted by delete rows added between the versions
    dels_from = {e["path"] for e in man_from.get("delete_files", [])}
    new_dels = [
        e
        for e in man_to.get("delete_files", [])
        if e["path"] not in dels_from
    ]
    del_targets: set[str] = set()
    nd = None
    if new_dels:
        nd = spark.read.parquet(
            *sorted(f"{path}/{e['path']}" for e in new_dels)
        )
        del_targets = {
            r._dfile for r in nd.select("_dfile").distinct().collect()
        }  # bounded: one row per targeted FILE
    # DELETE-ONLY fast path (r12 verdict #7): a file carried by BOTH
    # manifests whose only change is new delete rows needs no
    # two-sided exceptAll — its change set IS those rows. Reading it
    # once and inner-joining the (tiny, broadcast) new-delete
    # positions replaces reading it twice plus a full-width set-diff
    # shuffle. This is what un-degrades the SCATTERED-delete case
    # (PLANS.md: a delete touching all 8 buckets used to drift toward
    # 2x table read + exceptAll; now it costs one read of the
    # targeted files, proportional to what changed again).
    delete_only = {
        p for p in del_targets - structural if p in paths_from and p in paths_to
    }
    changed = structural | (del_targets - delete_only)

    def side(man: dict) -> DataFrame | None:
        aff = [e for e in man["files"] if e["path"] in changed]
        return _snapshot(spark, path, man, aff)

    from_part = side(man_from)
    to_part = side(man_to)

    fast_deletes = None
    if delete_only:
        # effective new deletions: new positions minus anything the
        # from-snapshot had already deleted (idempotent re-deletes)
        pos = nd.select("_dfile", "_dpos")
        old_rel = _read_delete_relation(spark, path, man_from)
        if old_rel is not None:
            pos = pos.join(
                old_rel.select("_dfile", "_dpos"), ["_dfile", "_dpos"], "left_anti"
            )
        rows = _read_entries(
            spark,
            path,
            [e for e in man_from["files"] if e["path"] in delete_only],
            with_rowid=True,
        )
        fast_deletes = rows.join(
            F.broadcast(pos), ["_dfile", "_dpos"], "inner"
        ).select(*[c for c in rows.columns if c not in ("_dfile", "_dpos")])

    if from_part is None and to_part is None and fast_deletes is None:
        raise ValueError("no differing files between the two versions")
    if from_part is None and to_part is None:
        out = fast_deletes.withColumn("_change_type", F.lit("delete"))
        out._osx3_fastpath_files = len(delete_only)  # type: ignore[attr-defined]
        out._osx3_diff_files = 0  # type: ignore[attr-defined]
        return out

    if from_part is None:
        out = to_part.withColumn("_change_type", F.lit("insert"))
        cols = [c for c in to_part.columns]
    elif to_part is None:
        out = from_part.withColumn("_change_type", F.lit("delete"))
        cols = [c for c in from_part.columns]
    else:
        cols = [c for c in to_part.columns if c in from_part.columns]
        deletes = from_part.select(cols).exceptAll(to_part.select(cols))
        inserts = to_part.select(cols).exceptAll(from_part.select(cols))
        out = deletes.withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(inserts.withColumn("_change_type", F.lit("insert")))
    if fast_deletes is not None:
        out = out.unionByName(
            fast_deletes.select(cols).withColumn(
                "_change_type", F.lit("delete")
            ),
            allowMissingColumns=True,
        )
    # testability evidence: how many files took each path (the fast
    # path must absorb delete-only files — see test_changes_mor_fast_path)
    out._osx3_fastpath_files = len(delete_only)  # type: ignore[attr-defined]
    out._osx3_diff_files = len(changed)  # type: ignore[attr-defined]
    return out


def vt_scan(
    spark: SparkSession,
    path: str,
    col: str,
    lo: str,
    hi: str,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned snapshot scan: read only the files whose manifest
    MIN/MAX for ``col`` can intersect ``[lo, hi)`` — the Iceberg
    manifest-stats / Delta file-skipping planFiles step, decided from
    the manifest ALONE (zero file opens for skipped files). Bounds
    compare as the manifest's stringified values, so the pruned
    column's domain must be string-ordered (timestamps/dates render
    ISO; plain strings work; NUMERICS would need typed stats and are
    rejected by contract — document at the call site). Files without
    stats (e.g. rewritten by an op that didn't recompute them) are
    conservatively scanned. Pruning is an optimization, never a
    filter: the caller still applies the exact predicate; the
    returned frame carries ``_osx3_files_scanned`` /
    ``_osx3_files_total`` evidence. Position deletes apply as in
    :func:`vt_read`."""
    v = vt_current_version(path) if version is None else version
    if v is None or not os.path.exists(_manifest_file(path, v)):
        raise FileNotFoundError(f"no version {version} at {path}")
    man = _read_manifest(path, v)

    def keep(e: dict) -> bool:
        st = e.get("stats", {}).get(col)
        if not st or st[0] is None or st[1] is None:
            return True  # no stats -> conservative scan
        mn, mx = st
        return not (mx < lo or mn >= hi)

    entries = [e for e in man["files"] if keep(e)]
    out = _snapshot(spark, path, man, entries)
    out._osx3_files_scanned = len(entries)  # type: ignore[attr-defined]
    out._osx3_files_total = len(man["files"])  # type: ignore[attr-defined]
    return out


# ---------------------------------------------------------------------------
# Branches: zero-copy forks of the version chain (Iceberg refs / Nessie
# branch semantics, reduced to the same manifest mechanics)
# ---------------------------------------------------------------------------

_BRANCHES = "_branches"


def _branch_manifest_file(path: str, name: str, bversion: int) -> str:
    return f"{path}/{_BRANCHES}/{name}/v{bversion:06d}.json"


def vt_branch_versions(path: str, name: str) -> list[int]:
    return sorted(
        int(os.path.basename(m)[1:7])
        for m in glob.glob(f"{path}/{_BRANCHES}/{name}/v*.json")
    )


def vt_branch_current(path: str, name: str) -> int | None:
    vs = vt_branch_versions(path, name)
    return vs[-1] if vs else None


def _branch_manifest(path: str, name: str, bversion: int | None = None) -> dict:
    """The manifest of branch ``name`` at ``bversion`` (its head when
    None) — the one resolver behind every branch read, count and
    commit. A missing one raises ``FileNotFoundError`` naming the
    version it resolved to, or ``head`` when the branch has none."""
    bv = vt_branch_current(path, name) if bversion is None else bversion
    if bv is None or not os.path.exists(_branch_manifest_file(path, name, bv)):
        where = "head" if bv is None else f"v{bv}"
        raise FileNotFoundError(f"no branch {name} {where} at {path}")
    with open(_branch_manifest_file(path, name, bv)) as fh:
        return json.load(fh)


def _commit_to(final: str, manifest: dict) -> None:
    """The :func:`_commit` discipline against an explicit manifest
    path — shared by main-chain and branch commits; same atomic
    no-clobber publish (see :func:`_publish_exclusive`)."""
    _publish_exclusive(
        final,
        manifest,
        f"manifest {final} already committed — rebase on the "
        "current version and retry",
    )


def vt_branch(path: str, name: str, version: int | None = None) -> int:
    """Create branch ``name`` at main ``version`` (default current) —
    a ZERO-COPY fork: branch v0 is a copy of the main manifest (file
    references only; not one data byte moves), exactly the Iceberg
    ref / Delta shallow-clone shape. Branch commits stage data under
    the shared ``data/`` root but their manifests live under
    ``_branches/{name}/``, a separate chain the main-chain version
    counter never sees — isolation by construction, both ways.
    The fork point is recorded as ``base_version`` (what
    :func:`vt_merge_branch` fast-forward checks against). Returns the
    branch version (0)."""
    v = vt_current_version(path) if version is None else version
    if v is None or not os.path.exists(_manifest_file(path, v)):
        raise FileNotFoundError(f"no version {version} at {path}")
    if vt_branch_current(path, name) is not None:
        raise FileExistsError(f"branch {name} already exists at {path}")
    man = dict(_read_manifest(path, v))
    man.update(
        {
            "op": "branch",
            "branch": name,
            "base_version": v,
            "bversion": 0,
            "parent": None,
            "version": None,
        }
    )
    _commit_to(_branch_manifest_file(path, name, 0), man)
    return 0


def vt_read_branch(
    spark: SparkSession, path: str, name: str, bversion: int | None = None
) -> DataFrame:
    """Snapshot read of a branch (manifest entries resolve against the
    shared table root; position deletes apply as on main)."""
    return _snapshot(spark, path, _branch_manifest(path, name, bversion))


def vt_branch_append(
    df: DataFrame, path: str, name: str, tag: str | None = None
) -> int:
    """Append-only commit ON the branch: same mechanics as
    :func:`vt_append`, but files stage under ``data/b_{name}_c{K}/``
    and the manifest commits to the branch chain — main's version
    counter and manifests are untouched (writer isolation), and main
    commits never appear on the branch (reader isolation)."""
    bv = vt_branch_current(path, name)
    man = _branch_manifest(path, name, bv)
    b = df.withColumn(
        "bucket",
        F.pmod(F.col(man["bucket_key"]), F.lit(man["nbuckets"])).cast("int"),
    )
    nbv = bv + 1
    new_files = _stage_files(
        b,
        path,
        f"b_{name}_c{nbv}",
        man["nbuckets"],
        man.get("stats_cols") or None,
    )
    new_man = dict(man)
    new_man.update(
        {
            "op": "branch_append",
            "tag": tag,
            "bversion": nbv,
            "parent": bv,
            "files": man["files"] + new_files,
            "files_rewritten": 0,
            "files_carried": len(man["files"]),
        }
    )
    _commit_to(_branch_manifest_file(path, name, nbv), new_man)
    return nbv


def vt_merge_branch(spark: SparkSession, path: str, name: str) -> int:
    """FAST-FORWARD merge: publish the branch head as main's next
    version. Legal only when main still sits at the branch's fork
    point (``base_version``) — the branch head's manifest then IS the
    correct next main snapshot (its files already live under the
    shared data root; the merge commits one JSON, no data moves).
    If main advanced since the fork, raises ValueError: the branch
    must rebase (re-fork + replay) first — the Nessie/Git contract;
    silently merging diverged manifests would drop main's commits.
    Returns the new main version. ``spark`` is unused today (no data
    is read) but kept for signature parity with the other verbs and
    for a future validating merge."""
    man = _branch_manifest(path, name)
    cur = vt_current_version(path)
    if cur != man["base_version"]:
        raise ValueError(
            f"branch {name} forked at v{man['base_version']} but main is "
            f"at v{cur} — diverged; rebase the branch before merging"
        )
    new_version = cur + 1
    merged = dict(man)
    merged.update(
        {
            "op": "merge_branch",
            "merged_branch": name,
            "version": new_version,
            "parent": cur,
            "bversion": None,
        }
    )
    _commit(path, new_version, merged)
    return new_version


def vt_restore(path: str, version: int) -> int:
    """RESTORE (Delta's RESTORE TABLE / Iceberg rollback): commit the
    file list of an OLD version as the table's next version — a
    metadata-only rollback (no data moves; the old files are still on
    disk as long as retention hasn't vacuumed them). History is
    preserved: the bad version stays readable between the restore
    point and the restore commit, which is what distinguishes RESTORE
    from a destructive reset. Raises if the target manifest is gone
    (vacuumed past) — a restore can never resurrect purged data.
    Returns the new version."""
    if not os.path.exists(_manifest_file(path, version)):
        raise FileNotFoundError(
            f"cannot restore: version {version} not readable at {path} "
            "(vacuumed past or never committed)"
        )
    cur = vt_current_version(path)
    man = dict(_read_manifest(path, version))
    new_version = cur + 1
    man.update(
        {
            "version": new_version,
            "parent": cur,
            "op": "restore",
            "restored_from": version,
        }
    )
    _commit(path, new_version, man)
    return new_version


# ---------------------------------------------------------------------------
# Tags: immutable named snapshots (Iceberg tags) — the "dataset version
# this model trained on" pin
# ---------------------------------------------------------------------------

_TAGS = "_tags"


def vt_tag(path: str, name: str, version: int | None = None) -> int:
    """TAG a snapshot: store an immutable named copy of the manifest
    under ``_tags/{name}.json`` (the Iceberg tag / released-dataset
    pin). Like a branch fork it is zero-copy and a vacuum GC root —
    the tagged snapshot's files survive main-chain retention until
    the tag is dropped — but unlike a branch it accepts no commits:
    a tag IS the reproducibility contract for 'the exact bytes model
    X trained on'. Returns the tagged version."""
    v = vt_current_version(path) if version is None else version
    if v is None or not os.path.exists(_manifest_file(path, v)):
        raise FileNotFoundError(f"no version {version} at {path}")
    final = f"{path}/{_TAGS}/{name}.json"
    man = dict(_read_manifest(path, v))
    man.update({"op": "tag", "tag_name": name, "tagged_version": v})
    _commit_to(final, man)
    return v


def vt_read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Snapshot read of a tag (position deletes apply as on main)."""
    final = f"{path}/{_TAGS}/{name}.json"
    if not os.path.exists(final):
        raise FileNotFoundError(f"no tag {name} at {path}")
    with open(final) as fh:
        return _snapshot(spark, path, json.load(fh))


def vt_drop_tag(path: str, name: str) -> None:
    """Release a tag; the next :func:`vt_vacuum` may reclaim files
    only the tag referenced."""
    final = f"{path}/{_TAGS}/{name}.json"
    if not os.path.exists(final):
        raise FileNotFoundError(f"no tag {name} at {path}")
    os.remove(final)
