"""Lake-management operator tests beyond the oracle-parity sweep."""

from __future__ import annotations

from .conftest import SF_CORRECT


def test_profile_approx_knob_matches_exact_within_hll_error(spark):
    """profile(approx=True) is the 100 TB path (mergeable HLL, no
    Expand): per-column distinct estimates must land within HLL's
    documented ~5% of the exact profile, with every other statistic
    identical."""
    from os_ex_3_map_reduce_spark.plans.lake import _PROFILE_COLS, profile
    from os_ex_3_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    cols = list(_PROFILE_COLS)
    exact = {r.column_name: r for r in profile(docs, cols).collect()}
    approx = {r.column_name: r for r in profile(docs, cols, approx=True).collect()}
    assert set(exact) == set(approx) == set(cols)
    for c in cols:
        e, a = exact[c], approx[c]
        assert (a.n_rows, a.n_nulls, a.min_value, a.max_value) == (
            e.n_rows, e.n_nulls, e.min_value, e.max_value
        )
        assert abs(a.n_distinct - e.n_distinct) <= max(1, 0.05 * e.n_distinct), (
            f"{c}: approx {a.n_distinct} vs exact {e.n_distinct}"
        )


def test_profile_approx_plan_has_no_expand(spark):
    """The knob's whole point: exact profiling pays an Expand (xN row
    amplification for multi-distinct); the HLL path must not."""
    from os_ex_3_map_reduce_spark.plans.explain import explain_str
    from os_ex_3_map_reduce_spark.plans.lake import _PROFILE_COLS, profile
    from os_ex_3_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    plan = explain_str(profile(docs, list(_PROFILE_COLS), approx=True))
    assert "Expand" not in plan, plan


class TestVersionedBranch:
    """sources/versioned.py branches: zero-copy fork, two-way
    isolation, fast-forward merge, diverged-merge refusal."""

    def test_branch_lifecycle(self, spark, tmp_path):
        import glob as g

        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.sources.versioned import (
            vt_append,
            vt_branch,
            vt_branch_append,
            vt_current_version,
            vt_merge_branch,
            vt_read,
            vt_read_branch,
            vt_write,
        )

        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        path = str(tmp_path / "t")
        vt_write(df, path, "k", nbuckets=4)
        files_before = set(g.glob(f"{path}/data/**/*.parquet", recursive=True))

        # zero-copy fork: no new data files
        vt_branch(path, "exp")
        assert (
            set(g.glob(f"{path}/data/**/*.parquet", recursive=True))
            == files_before
        )
        import pytest

        with pytest.raises(FileExistsError):
            vt_branch(path, "exp")  # double create refused

        # branch append: invisible on main, visible on branch
        delta = spark.range(100, 120).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        vt_branch_append(delta, path, "exp")
        assert vt_read(spark, path).count() == 100
        assert vt_read_branch(spark, path, "exp").count() == 120
        assert vt_current_version(path) == 0  # main chain untouched

        # main append: invisible on the branch (two-way isolation)...
        # but it diverges main, so fork2 tests that path; here merge
        # first while main still sits at the fork point
        v1 = vt_merge_branch(spark, path, "exp")
        assert v1 == 1
        main_rows = sorted(
            (r.k, r.v) for r in vt_read(spark, path, v1).collect()
        )
        br_rows = sorted(
            (r.k, r.v) for r in vt_read_branch(spark, path, "exp").collect()
        )
        assert main_rows == br_rows and len(main_rows) == 120
        assert vt_read(spark, path, 0).count() == 100  # time travel

        # diverged merge refused, branch intact
        vt_branch(path, "exp2", version=v1)
        vt_append(
            spark.range(200, 210).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            path,
        )
        vt_branch_append(
            spark.range(300, 305).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            path,
            "exp2",
        )
        with pytest.raises(ValueError, match="diverged"):
            vt_merge_branch(spark, path, "exp2")
        assert vt_read_branch(spark, path, "exp2").count() == 125
        assert vt_read(spark, path).count() == 130

    def test_vacuum_treats_branches_as_gc_roots(self, spark, tmp_path):
        """vt_vacuum must not collect files a live branch references:
        fork at v0, advance main past the retention window, vacuum —
        the branch still reads; delete the branch dir, re-vacuum —
        the fork's files are reclaimed."""
        import shutil

        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.sources.versioned import (
            vt_append,
            vt_branch,
            vt_read_branch,
            vt_vacuum,
            vt_write,
        )

        def rows(a, b):
            return spark.range(a, b).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            )

        path = str(tmp_path / "t")
        vt_write(rows(0, 50), path, "k", nbuckets=4)
        vt_branch(path, "exp")
        # CoW delete of EVERY v0 row on main: the new main manifest
        # references NONE of the fork's files — only the branch keeps
        # them alive through the vacuum
        from os_ex_3_map_reduce_spark.sources.versioned import vt_delete

        vt_delete(spark, path, "k < 50")
        vt_append(rows(50, 60), path)
        r1 = vt_vacuum(path, keep_last=1)
        assert r1["versions_dropped"] == 2
        # without branch GC roots these 50 rows' files would be gone
        assert vt_read_branch(spark, path, "exp").count() == 50
        # branch deleted -> its files become garbage -> reclaimed
        shutil.rmtree(f"{path}/_branches/exp")
        r2 = vt_vacuum(path, keep_last=1)
        assert r2["files_deleted"] > 0
        assert r2["files_kept"] < r1["files_kept"]

    def test_vacuum_staging_sweep_age_floor(self, spark, tmp_path):
        """ADVICE r11: the crashed-staging sweep must cover all THREE
        publish roots (_manifests, _branches, _tags — vt_tag stages
        through the same _commit_to) and must NOT unlink a FRESH
        staging, which may belong to a live in-flight commit whose
        os.link publish would then die with FileNotFoundError instead
        of a clean version conflict."""
        import os

        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.sources.versioned import (
            STAGING_AGE_FLOOR_SEC,
            vt_branch,
            vt_tag,
            vt_vacuum,
            vt_write,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark.range(0, 20).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            ),
            path,
            "k",
            nbuckets=2,
        )
        vt_branch(path, "exp")
        vt_tag(path, "rel1")

        stale, fresh = [], []
        for d in ("_manifests", "_branches/exp", "_tags"):
            s = f"{path}/{d}/v000009.json.tmp.deadbeef"
            open(s, "w").write("{}")
            old = __import__("time").time() - STAGING_AGE_FLOOR_SEC - 60
            os.utime(s, (old, old))
            stale.append(s)
            fr = f"{path}/{d}/v000010.json.tmp.cafe"
            open(fr, "w").write("{}")
            fresh.append(fr)

        vt_vacuum(path, keep_last=1)
        for s in stale:
            assert not os.path.exists(s), f"stale staging kept: {s}"
        for fr in fresh:
            assert os.path.exists(fr), f"live staging swept: {fr}"
            os.remove(fr)

    def test_tags_pin_snapshots_and_root_the_vacuum(self, spark, tmp_path):
        """vt_tag: an immutable named snapshot that survives main-chain
        retention (the released-dataset pin); dropping the tag frees
        its files for the next vacuum; tags accept no commits by
        construction (there is no tag-append API)."""
        import pytest
        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.sources.versioned import (
            vt_delete,
            vt_drop_tag,
            vt_read_tag,
            vt_tag,
            vt_vacuum,
            vt_write,
        )

        def rows(a, b):
            return spark.range(a, b).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            )

        path = str(tmp_path / "t")
        vt_write(rows(0, 40), path, "k", nbuckets=4)
        assert vt_tag(path, "train-v1") == 0
        with pytest.raises(FileExistsError):
            vt_tag(path, "train-v1")  # tags are immutable
        # main rewrites everything, retention expires v0
        vt_delete(spark, path, "k >= 0")
        r1 = vt_vacuum(path, keep_last=1)
        assert vt_read_tag(spark, path, "train-v1").count() == 40
        vt_drop_tag(path, "train-v1")
        r2 = vt_vacuum(path, keep_last=1)
        assert r2["files_deleted"] > 0  # the tag's files reclaimed
        assert r2["files_kept"] < r1["files_kept"]


def test_catalog_txn_atomicity_and_optimistic_concurrency(spark, tmp_path):
    """Catalog-level guarantees beyond what q_txn_multitable shows
    in-band: (1) reading an OLD catalog version time-travels both
    tables consistently; (2) a second committer at the same catalog
    version is refused (optimistic concurrency, the versioned.py rule
    one level up)."""
    import pytest as _pytest

    from os_ex_3_map_reduce_spark.sources.catalog_txn import (
        _ct_commit,
        ct_current,
        ct_init,
        ct_read,
        ct_txn,
    )
    from os_ex_3_map_reduce_spark.sources.versioned import vt_write

    a = spark.range(10).selectExpr("id AS k", "id * 2 AS v")
    b = spark.range(20).selectExpr("id AS k", "id * 3 AS w")
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    vt_write(a, pa, "k")
    vt_write(b, pb, "k")
    cat = str(tmp_path / "cat")
    ct_init(cat, {"a": (pa, 0), "b": (pb, 0)})

    ct_txn(
        cat,
        {
            "a": spark.range(10, 15).selectExpr("id AS k", "id * 2 AS v"),
            "b": spark.range(20, 25).selectExpr("id AS k", "id * 3 AS w"),
        },
    )
    assert ct_current(cat) == 1
    assert ct_read(spark, cat, "a").count() == 15
    assert ct_read(spark, cat, "b").count() == 25
    # time travel: version 0 shows BOTH tables pre-txn
    assert ct_read(spark, cat, "a", version=0).count() == 10
    assert ct_read(spark, cat, "b", version=0).count() == 20
    # optimistic concurrency: committing catalog v1 again is refused
    with _pytest.raises(FileExistsError):
        _ct_commit(cat, 1, {"version": 1, "parent": 0, "tables": {}})


def test_ct_table_version_pins_unmoved_by_uncommitted_append(
    spark, tmp_path
):
    """The pin-equality contract q_txn_multitable's torn-write proof
    rests on: ct_table_version reports the catalog's (path, version)
    pin, an uncommitted table-level vt_append does NOT move it (only
    ct_txn does), and equal pins read back the identical row set."""
    from os_ex_3_map_reduce_spark.sources.catalog_txn import (
        ct_init,
        ct_read,
        ct_table_version,
        ct_txn,
    )
    from os_ex_3_map_reduce_spark.sources.versioned import (
        vt_append,
        vt_write,
    )

    a = spark.range(10).selectExpr("id AS k", "id * 2 AS v")
    pa = str(tmp_path / "a")
    vt_write(a, pa, "k")
    cat = str(tmp_path / "cat")
    ct_init(cat, {"a": (pa, 0)})
    pin0 = ct_table_version(cat, "a")
    assert pin0 == (pa, 0)
    before = sorted(tuple(r) for r in ct_read(spark, cat, "a").collect())
    # torn write: table-level publish without a catalog commit
    vt_append(spark.range(100, 105).selectExpr("id AS k", "id AS v"), pa)
    assert ct_table_version(cat, "a") == pin0  # pin unmoved
    after = sorted(tuple(r) for r in ct_read(spark, cat, "a").collect())
    assert after == before  # equal pins == identical view
    # a real commit is what moves the pin
    ct_txn(cat, {"a": spark.range(200, 202).selectExpr("id AS k", "id AS v")})
    assert ct_table_version(cat, "a") != pin0
    assert ct_table_version(cat, "a", version=0) == pin0  # history intact


def test_ct_fk_uncovered_equals_per_version_audit(spark, tmp_path):
    """The append-only equivalence behind q_stream_txn_ingest's
    one-pass FK proof, checked against the DEFINING per-version audit
    on three adversarial histories: (good) children always arrive
    with or after their parent -> 0; (late parent) a child at v1 whose
    parent only lands at v2 -> flagged, exactly like the brute check
    that re-reads every snapshot; (never parent) -> flagged. The
    one-pass count is 0 IFF every snapshot's anti-join is empty."""
    from pyspark.sql import functions as F

    from os_ex_3_map_reduce_spark.sources.catalog_txn import (
        ct_current,
        ct_fk_uncovered,
        ct_init,
        ct_read,
        ct_txn,
    )
    from os_ex_3_map_reduce_spark.sources.versioned import vt_write

    def parent_df(*keys):
        return spark.createDataFrame(
            [(int(k), f"p{k}") for k in keys], "pk long, pv string"
        )

    def child_df(*keys):
        return spark.createDataFrame(
            [(int(k), f"c{k}") for k in keys], "ck long, cv string"
        )

    def brute(cat):
        # the defining audit: anti-join at EVERY catalog version
        for v in range(ct_current(cat) + 1):
            p = ct_read(spark, cat, "p", version=v)
            c = ct_read(spark, cat, "c", version=v)
            n = c.join(
                p.select("pk"), c.ck == F.col("pk"), "left_anti"
            ).count()
            if n:
                return False
        return True

    def history(label, commits):
        base = str(tmp_path / label)
        pp, cp = f"{base}/p", f"{base}/c"
        vt_write(parent_df(1, 2), pp, "pk")
        vt_write(child_df(1), cp, "ck")
        cat = f"{base}/cat"
        ct_init(cat, {"p": (pp, 0), "c": (cp, 0)})
        for appends in commits:
            ct_txn(cat, appends)
        return cat

    good = history(
        "good",
        [
            {"p": parent_df(3), "c": child_df(2, 3)},
            {"c": child_df(1, 3)},
        ],
    )
    assert brute(good) and ct_fk_uncovered(
        spark, good, "c", "p", "ck", "pk"
    ) == 0

    late = history(
        "late",
        [
            {"c": child_df(9)},  # v1: child 9, parent missing
            {"p": parent_df(9)},  # v2: parent arrives — too late
        ],
    )
    assert not brute(late)
    assert ct_fk_uncovered(spark, late, "c", "p", "ck", "pk") > 0

    never = history("never", [{"c": child_df(7)}])
    assert not brute(never)
    assert ct_fk_uncovered(spark, never, "c", "p", "ck", "pk") > 0


def test_manifest_commit_race_exactly_one_winner(tmp_path):
    """The commit point under a REAL same-version race: 16 threads
    release through a barrier and publish DIFFERENT manifests as the
    same version. Exactly one must win, every loser must raise
    FileExistsError, the surviving manifest must be the winner's —
    complete and unmixed — and no staging temp files may leak.

    This is the test the previous exists-check + os.rename discipline
    FAILS two ways: rename silently replaces, so a slow loser would
    overwrite the winner's committed manifest (a lost update the
    winner never learns about), and the pid-keyed temp name shared by
    sibling threads lets two stagings interleave writes into one
    file. The os.link publish (versioned._publish_exclusive) plus
    per-attempt temp names close both."""
    import threading

    from os_ex_3_map_reduce_spark.sources.versioned import (
        _commit,
        _read_manifest,
    )

    n = 16
    rounds = 5  # a racy bug is probabilistic: give it chances to fire
    for version in range(1, rounds + 1):
        barrier = threading.Barrier(n)
        results: list[str | None] = [None] * n

        def run(i: int, v: int = version) -> None:
            barrier.wait()
            try:
                _commit(str(tmp_path), v, {"version": v, "writer": i})
                results[i] = "won"
            except FileExistsError:
                results[i] = "lost"

        threads = [
            threading.Thread(target=run, args=(i,)) for i in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert results.count("won") == 1, results
        winner = results.index("won")
        # the surviving manifest is the WINNER's, byte-complete
        assert _read_manifest(str(tmp_path), version) == {
            "version": version,
            "writer": winner,
        }
    leftovers = list((tmp_path / "_manifests").glob("*.tmp.*"))
    assert leftovers == []


def test_catalog_commit_race_exactly_one_winner(tmp_path):
    """The same race one level up: _ct_commit routes through the same
    exclusive-publish primitive, so concurrent multi-table
    transactions racing one catalog version resolve to exactly one
    winner (the loser rebases per the documented optimistic rule)."""
    import json
    import threading

    from os_ex_3_map_reduce_spark.sources.catalog_txn import (
        _cat_file,
        _ct_commit,
    )

    n = 8
    barrier = threading.Barrier(n)
    results: list[str | None] = [None] * n

    def run(i: int) -> None:
        barrier.wait()
        try:
            _ct_commit(
                str(tmp_path), 1, {"version": 1, "parent": 0, "writer": i}
            )
            results[i] = "won"
        except FileExistsError:
            results[i] = "lost"

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count("won") == 1, results
    with open(_cat_file(str(tmp_path), 1)) as fh:
        assert json.load(fh)["writer"] == results.index("won")


def test_vt_count_metadata_equals_scan_and_mor_fallback(spark, tmp_path):
    """vt_count (r15 optimization: footer-served snapshot counts) must
    equal the scan count on every snapshot kind it can meet: create,
    append chain, CoW delete, restore — the delete-free fast path —
    and merge-on-read snapshots (pending delete_files), where it must
    FALL BACK to the scan (only the anti-join knows how many delete
    rows land). The env kill-switch must force the fallback too."""
    import os

    from os_ex_3_map_reduce_spark.sources.versioned import (
        _read_manifest,
        vt_append,
        vt_count,
        vt_delete,
        vt_delete_mor,
        vt_read,
        vt_restore,
        vt_write,
    )

    p = str(tmp_path / "t")
    vt_write(spark.range(100).selectExpr("id AS k", "id * 2 AS v"), p, "k")
    vt_append(spark.range(100, 130).selectExpr("id AS k", "id * 2 AS v"), p)
    v_cow = vt_delete(spark, p, "k % 10 = 0")  # CoW: rewrites, no del files
    v_res = vt_restore(p, 0)
    for v in (0, 1, v_cow, v_res):
        assert not _read_manifest(p, v).get("delete_files")
        assert vt_count(spark, p, v) == vt_read(spark, p, v).count(), v
    assert vt_count(spark, p, 0) == 100
    assert vt_count(spark, p, 1) == 130

    # merge-on-read: delete_files present -> fallback path, still exact
    v_mor = vt_delete_mor(spark, p, "k % 7 = 0")
    assert _read_manifest(p, v_mor).get("delete_files")
    assert vt_count(spark, p, v_mor) == vt_read(spark, p, v_mor).count()
    # a second overlapping MoR delete keeps the equality (the case a
    # naive footer-minus-deleterows count would get wrong)
    v_mor2 = vt_delete_mor(spark, p, "k % 14 = 0")
    assert vt_count(spark, p, v_mor2) == vt_read(spark, p, v_mor2).count()

    # kill-switch forces the scan path on a delete-free snapshot
    os.environ["SPARK_GRAFT_NO_META_COUNT"] = "1"
    try:
        assert vt_count(spark, p, 1) == 130
    finally:
        os.environ.pop("SPARK_GRAFT_NO_META_COUNT", None)


def test_vt_count_branch_metadata_equals_scan(spark, tmp_path):
    """vt_count_branch (r16: the branch twin of vt_count, serving
    q_vt_branch's 7 snapshot audits job-free) must equal the branch
    scan count at the fork point and after branch appends, track the
    requested bversion, and leave main counts untouched."""
    import os

    from os_ex_3_map_reduce_spark.sources.versioned import (
        vt_branch,
        vt_branch_append,
        vt_count,
        vt_count_branch,
        vt_read_branch,
        vt_write,
    )

    p = str(tmp_path / "t")
    vt_write(spark.range(50).selectExpr("id AS k", "id * 2 AS v"), p, "k")
    vt_branch(p, "exp")
    assert vt_count_branch(spark, p, "exp") == 50  # fork = main v0
    vt_branch_append(
        spark.range(50, 80).selectExpr("id AS k", "id * 2 AS v"), p, "exp"
    )
    for bv in (0, 1, None):
        assert (
            vt_count_branch(spark, p, "exp", bv)
            == vt_read_branch(spark, p, "exp", bv).count()
        ), bv
    assert vt_count_branch(spark, p, "exp") == 80
    assert vt_count(spark, p) == 50  # main untouched by branch commits
    # kill-switch forces the scan path here too
    os.environ["SPARK_GRAFT_NO_META_COUNT"] = "1"
    try:
        assert vt_count_branch(spark, p, "exp") == 80
    finally:
        os.environ.pop("SPARK_GRAFT_NO_META_COUNT", None)


def test_missing_branch_error_names_the_resolved_version(spark, tmp_path):
    """Branch reads and counts share one manifest resolver; its
    FileNotFoundError names the version it resolved, or ``head`` for a
    branch with no versions, never ``vNone``."""
    import pytest

    from os_ex_3_map_reduce_spark.sources.versioned import (
        vt_branch,
        vt_count_branch,
        vt_read_branch,
        vt_write,
    )

    p = str(tmp_path / "t")
    vt_write(spark.range(5).selectExpr("id AS k", "id AS v"), p, "k")
    vt_branch(p, "exp")
    with pytest.raises(FileNotFoundError, match=r"no branch nope head at "):
        vt_read_branch(spark, p, "nope")
    with pytest.raises(FileNotFoundError, match=r"no branch nope head at "):
        vt_count_branch(spark, p, "nope")
    with pytest.raises(FileNotFoundError, match=r"no branch exp v7 at "):
        vt_count_branch(spark, p, "exp", 7)


def test_ct_count_and_threaded_txn_parity(spark, tmp_path):
    """ct_count resolves through the catalog pin (not the table head),
    and the thread-pooled ct_txn (r15 optimization: independent
    per-table appends overlap) commits bit-identical state to the
    serial path on a 3-table transaction."""
    import os

    from os_ex_3_map_reduce_spark.sources.catalog_txn import (
        ct_count,
        ct_init,
        ct_read,
        ct_table_version,
        ct_txn,
    )
    from os_ex_3_map_reduce_spark.sources.versioned import vt_append, vt_write

    def build(root: str, serial: bool) -> dict:
        if serial:
            os.environ["SPARK_GRAFT_TXN_SERIAL"] = "1"
        else:
            os.environ.pop("SPARK_GRAFT_TXN_SERIAL", None)
        try:
            paths = {}
            for n, width in (("a", 10), ("b", 20), ("c", 30)):
                paths[n] = f"{root}/{n}"
                vt_write(
                    spark.range(width).selectExpr("id AS k", "id AS v"),
                    paths[n],
                    "k",
                )
            cat = f"{root}/cat"
            ct_init(cat, {n: (paths[n], 0) for n in paths})
            ct_txn(
                cat,
                {
                    n: spark.range(100, 100 + w).selectExpr(
                        "id AS k", "id AS v"
                    )
                    for n, w in (("a", 3), ("b", 5), ("c", 7))
                },
                tag="batch-0",
            )
            return {
                n: (
                    ct_table_version(cat, n)[1],
                    ct_count(spark, cat, n),
                    sorted(
                        r.k for r in ct_read(spark, cat, n).collect()
                    ),
                )
                for n in paths
            }
        finally:
            os.environ.pop("SPARK_GRAFT_TXN_SERIAL", None)

    threaded = build(str(tmp_path / "thr"), serial=False)
    serial = build(str(tmp_path / "ser"), serial=True)
    assert threaded == serial
    assert threaded["a"][1] == 13 and threaded["c"][1] == 37
    # ct_count ignores an uncommitted table-head append (catalog pin)
    root = str(tmp_path / "thr")
    vt_append(
        spark.range(500, 600).selectExpr("id AS k", "id AS v"), f"{root}/a"
    )
    assert ct_count(spark, f"{root}/cat", "a") == 13
