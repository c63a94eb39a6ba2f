"""Sink adapter tests (SURVEY §2.1 S7-S13)."""

from __future__ import annotations

import json
import os

import pytest

from acuvate_spark.operators import sinks
from acuvate_spark.tables import load_table


def test_append_parquet(spark, sf_dir, tmp_path):
    path = str(tmp_path / "sink")
    df = load_table(spark, sf_dir, "supplier")
    sinks.append_parquet(df, path)
    sinks.append_parquet(df, path)  # append, not overwrite
    assert spark.read.parquet(path).count() == df.count() * 2


def test_rest_sink_posts_all_rows_in_batches(spark, sf_dir, tmp_path):
    out = str(tmp_path / "posts.jsonl")

    # executors are separate local processes: collect via shared file
    def poster(batch):
        with open(out, "a") as f:
            f.write(json.dumps({"n": len(batch), "keys": [r["s_suppkey"] for r in batch]}) + "\n")

    df = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sinks.rest_sink(df, poster, batch_size=3)
    batches = [json.loads(line) for line in open(out)]
    assert all(b["n"] <= 3 for b in batches)
    posted = sorted(k for b in batches for k in b["keys"])
    expected = sorted(r["s_suppkey"] for r in df.collect())
    assert posted == expected


def test_export_excel_falls_back_to_csv(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region")
    path = sinks.export_excel(
        df,
        str(tmp_path / "out.xlsx"),
        header_map={"r_regionkey": "Region Key", "r_name": "Region"},
    )
    assert os.path.exists(path)
    header = open(path).readline().strip()
    assert "Region Key" in header and "Region" in header


def test_export_excel_refuses_rows_above_cap(spark, tmp_path, monkeypatch):
    """A frame larger than the export cap raises instead of exporting
    its first cap rows as if they were all of it."""
    monkeypatch.setattr(sinks, "EXPORT_MAX_ROWS", 2)
    df = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    with pytest.raises(ValueError, match="more than 2 rows"):
        sinks.export_excel(df, str(tmp_path / "big.xlsx"))
    assert not list(tmp_path.iterdir())
    path = sinks.export_excel(df.where("k <= 2"), str(tmp_path / "ok.xlsx"))
    if path.endswith(".csv"):
        header, *rows = open(path).read().split()
        assert header == "k" and sorted(rows) == ["1", "2"]
    assert os.path.exists(path)


def test_append_ledger(tmp_path):
    p = str(tmp_path / "ledger.jsonl")
    sinks.append_ledger(["a.pdf", "b.pdf"], p)
    sinks.append_ledger(["c.pdf"], p)
    assert [json.loads(x)["path"] for x in open(p)] == ["a.pdf", "b.pdf", "c.pdf"]


# ---------------------------------------------------------------------------
# M5 move / M6 promote on copy-on-write registers: every register is a
# versions directory, set up with an initial committed version and
# read through its current version.
# ---------------------------------------------------------------------------


def _append(spark, root, df):
    """Commit the register's current rows plus ``df`` as its next version."""
    cur = sinks.read_current(spark, root)
    sinks._commit_version(df if cur is None else cur.unionByName(df), root)


def _versions(root):
    """Committed version dirs of a register, oldest first."""
    return sorted(
        v for v in os.listdir(root)
        if sinks._version_num(v) is not None and sinks._has_success(os.path.join(root, v))
    )


def test_move_records_crash_between_commits_replays_exactly_once(spark, sf_dir, tmp_path):
    """The move write side under a mid-job crash. Kill the job between
    the destination commit and the source commit, re-run it, and
    assert exactly-once final state: destination gains each moved row
    once, source loses exactly the moved rows, and a full second
    replay after success commits nothing (one version per register per
    move id makes replay idempotence a structural property, not a
    cleanup)."""
    import pytest
    from pyspark.sql import functions as F

    src = str(tmp_path / "active")
    dst = str(tmp_path / "archive")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    sinks._commit_version(sup, src)
    sinks._commit_version(sup.limit(0), dst)
    n_total = sup.count()
    pred = F.col("s_suppkey") % 4 == 0
    n_moved = sup.where(pred).count()
    assert 0 < n_moved < n_total

    class Boom(RuntimeError):
        pass

    def crash():
        raise Boom("killed between the destination and source commits")

    with pytest.raises(Boom):
        sinks.move_records(spark, src, dst, pred, ["s_suppkey"], "mv-001", on_between=crash)
    # crashed state: destination committed, source not — the moved rows
    # are visible in both registers, and nothing was lost
    assert sinks.read_current(spark, src).count() == n_total
    assert sinks.read_current(spark, dst).count() == n_moved

    # replay WITHOUT the fault: must converge, not double-insert
    sinks.move_records(spark, src, dst, pred, ["s_suppkey"], "mv-001")

    def final_state():
        return sinks.read_current(spark, dst), sinks.read_current(spark, src)

    d, s = final_state()
    assert d.count() == d.select("s_suppkey").distinct().count() == n_moved
    assert s.count() == n_total - n_moved
    assert s.where(pred).count() == 0
    # and the union is still the original table, row for row
    merged = {tuple(r) for r in d.unionByName(s).collect()}
    assert merged == {tuple(r) for r in sup.collect()}

    # a full THIRD run after success commits nothing
    committed = _versions(src), _versions(dst)
    sinks.move_records(spark, src, dst, pred, ["s_suppkey"], "mv-001")
    assert (_versions(src), _versions(dst)) == committed
    d2, s2 = final_state()
    assert d2.count() == n_moved and s2.count() == n_total - n_moved


def test_move_records_survives_crash_during_insert_write_and_composes(spark, sf_dir, tmp_path):
    """Hardening cases for the move write side: (1) crash artifacts — a
    version dir with only write-protocol droppings AND one with part
    files but no _SUCCESS (killed mid job-commit) must both be
    invisible to readers; (2) a destination with no committed version
    is created by its first move; (3) two moves with OVERLAPPING
    predicates compose exactly-once — the second move must not re-copy
    rows the first already moved — and replaying the first move after
    the second committed is a no-op. An uncommitted decision and an
    uncommitted source version left by a crashed run are recomputed,
    never trusted."""
    import shutil

    from pyspark.sql import functions as F

    src = str(tmp_path / "active")
    dst = str(tmp_path / "archive")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    sinks._commit_version(sup, src)
    n_total = sup.count()
    staged = str(tmp_path / "staged")
    sup.limit(3).coalesce(1).write.parquet(staged)

    def plant_partial(path):
        """Part files with bogus rows and no _SUCCESS."""
        os.makedirs(path)
        for f in os.listdir(staged):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(staged, f), path)

    # (1a) killed mid-write: only _temporary, no part files
    os.makedirs(os.path.join(dst, f"v{'8' * 25}-mv-crashed", "_temporary"))
    # (1b) killed mid job-commit: part files present, no _SUCCESS
    plant_partial(os.path.join(dst, f"v{'9' * 25}-mv-partial"))
    assert sinks.read_current(spark, dst) is None
    assert sinks.read_current(spark, src).count() == n_total

    # (3) two moves with OVERLAPPING predicates; mv-a starts from a
    # crashed run's uncommitted decision and uncommitted source version
    pred_a = F.col("s_suppkey") % 5 == 0
    pred_b = F.col("s_suppkey") % 2 == 0  # overlaps pred_a on % 10 == 0
    n_a = sup.where(pred_a).count()
    n_union = sup.where(pred_a | pred_b).count()
    plant_partial(os.path.join(dst, "moves", "mv-a"))
    stale_src = os.path.join(src, f"v{'9' * 25}-mv-a")
    plant_partial(stale_src)
    sinks.move_records(spark, src, dst, pred_a, ["s_suppkey"], "mv-a")
    assert not os.path.exists(stale_src)  # replaced by the committed attempt
    sinks.move_records(spark, src, dst, pred_b, ["s_suppkey"], "mv-b")
    # replaying the first move after the second committed: no-op
    sinks.move_records(spark, src, dst, pred_a, ["s_suppkey"], "mv-a")

    # (2) dst started with no committed version; the crash artifacts
    # from (1) stay invisible
    d = sinks.read_current(spark, dst)
    s = sinks.read_current(spark, src)
    assert d.count() == d.select("s_suppkey").distinct().count() == n_union
    assert n_a < n_union < n_total
    assert s.count() == n_total - n_union
    assert {tuple(r) for r in d.unionByName(s).collect()} == {
        tuple(r) for r in sup.collect()
    }


def test_move_records_chained_moves_carry_delta_rows(spark, sf_dir, tmp_path):
    """Chained moves A->B then B->C. Rows that arrived in B through the
    first move must be visible to the second move's source read and
    travel on to C."""
    from pyspark.sql import functions as F

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    c = str(tmp_path / "c")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sinks._commit_version(sup, a)
    sinks._commit_version(sup.limit(0), b)  # B starts empty: all its rows arrive by move

    pred_ab = F.col("s_suppkey") % 2 == 0  # A -> B: evens
    pred_bc = F.col("s_suppkey") % 4 == 0  # B -> C: multiples of 4 (all moved into B)
    n_ab = sup.where(pred_ab).count()
    n_bc = sup.where(pred_bc).count()
    assert 0 < n_bc < n_ab

    sinks.move_records(spark, a, b, pred_ab, ["s_suppkey"], "mv-ab")
    sinks.move_records(spark, b, c, pred_bc, ["s_suppkey"], "mv-bc")

    got_c = {r["s_suppkey"] for r in sinks.read_current(spark, c).collect()}
    assert got_c == {k for k in range(0, 10**6) if k % 4 == 0} & {
        r["s_suppkey"] for r in sup.collect()
    }
    assert len(got_c) == n_bc
    # B's current version lost exactly the rows that moved on to C
    got_b = {r["s_suppkey"] for r in sinks.read_current(spark, b).collect()}
    assert got_b == {r["s_suppkey"] for r in sup.where(pred_ab).collect()} - got_c
    # replays of either move after both committed: no-ops
    sinks.move_records(spark, a, b, pred_ab, ["s_suppkey"], "mv-ab")
    sinks.move_records(spark, b, c, pred_bc, ["s_suppkey"], "mv-bc")
    assert sinks.read_current(spark, c).count() == n_bc


def test_move_records_random_sequences_match_dict_model(spark, sf_dir, tmp_path):
    """Model check for the move write side: a random sequence of moves
    with random (overlapping) predicates and randomly interleaved
    replays must leave dst/src exactly equal to a pure-Python set
    model where each row moves at most once, at the first move whose
    predicate selects it among the still-present rows."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260814)
    src = str(tmp_path / "active")
    dst = str(tmp_path / "archive")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sinks._commit_version(sup, src)
    keys = sorted(r["s_suppkey"] for r in sup.select("s_suppkey").collect())

    model_src = set(keys)
    model_dst: set[int] = set()
    history: list[tuple[str, int, int]] = []
    for i in range(6):
        mod, res = rng.choice([2, 3, 5, 7]), rng.randrange(7)
        mv = f"mv-{i}"
        sinks.move_records(
            spark, src, dst, F.col("s_suppkey") % mod == res, ["s_suppkey"], mv,
        )
        hit = {k for k in model_src if k % mod == res}
        model_src -= hit
        model_dst |= hit
        history.append((mv, mod, res))
        if rng.random() < 0.5:  # replay a random earlier move: commits nothing
            pmv, pmod, pres = rng.choice(history)
            committed = _versions(src), _versions(dst)
            sinks.move_records(
                spark, src, dst, F.col("s_suppkey") % pmod == pres, ["s_suppkey"], pmv,
            )
            assert (_versions(src), _versions(dst)) == committed

    got_dst = {r["s_suppkey"] for r in sinks.read_current(spark, dst).collect()}
    got_src = {r["s_suppkey"] for r in sinks.read_current(spark, src).collect()}
    n_dst = sinks.read_current(spark, dst).count()
    assert got_dst == model_dst and len(got_dst) == n_dst  # no duplicate rows
    assert got_src == model_src
    assert got_dst | got_src == set(keys) and not (got_dst & got_src)


def _promote_setup(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    staging = str(tmp_path / "staging")
    main = str(tmp_path / "main")
    status = str(tmp_path / "status")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    # main holds keys not divisible by 4; staging proposes evens with
    # +50 balances — action Edit where main has the key, Add where not
    # (plus deliberately INVALID rows: Add on existing, Edit on missing)
    sinks._commit_version(sup.where(F.col("s_suppkey") % 4 != 0), main)
    sinks._commit_version(
        sup.where(F.col("s_suppkey") % 2 == 0).select(
            "s_suppkey",
            F.lit(1).alias("submission_id"),
            (F.col("s_acctbal") + 50.0).alias("s_acctbal"),
            F.when(F.col("s_suppkey") % 8 == 0, F.lit("Add"))
            .otherwise(F.lit("Edit"))
            .alias("action"),
            F.lit(True).alias("approved"),
        ),
        staging,
    )
    return sup, dict(staging_path=staging, main_path=main, status_path=status)


def _promote_expected(sup_rows):
    """Pure-Python model of one full promote over the fixture: main'
    and promoted-key set. Valid: Edit on existing main key (% 4 != 0),
    Add on missing (% 4 == 0); staging rows are evens, Add tagged on
    % 8 == 0."""
    main = {k: b for k, b in sup_rows if k % 4 != 0}
    promoted = {}
    for k, b in sup_rows:
        if k % 2 != 0:
            continue
        action = "Add" if k % 8 == 0 else "Edit"
        if action == "Edit" and k in main:
            promoted[k] = ("edited", b + 50.0)
        elif action == "Add" and k not in main:
            promoted[k] = ("added", b + 50.0)
    final_main = dict(main)
    for k, (_, b) in promoted.items():
        final_main[k] = b
    return final_main, promoted


def _main_rows(spark, paths, key="s_suppkey", value="s_acctbal"):
    return {
        r[key]: r[value]
        for r in sinks.read_current(spark, paths["main_path"]).select(key, value).collect()
    }


def _status_rows(spark, status_path):
    return spark.read.parquet(*sinks._committed_files(status_path)).collect()


def test_promote_records_crash_at_every_seam_replays_exactly_once(spark, sf_dir, tmp_path):
    """The M6 approve workflow's write side under mid-job kills. Kill
    after EACH interior commit (decision, main, status), then replay
    to completion, and assert the composed exactly-once state: main
    edited/added exactly once, status rows exactly one per promoted
    key, staging loses exactly the promoted rows, and a full extra
    replay commits nothing."""
    import pytest
    from pyspark.sql import functions as F

    sup, paths = _promote_setup(spark, sf_dir, tmp_path)
    sup_rows = [(r["s_suppkey"], r["s_acctbal"]) for r in sup.collect()]
    expected_main, promoted = _promote_expected(sup_rows)
    base_main = _main_rows(spark, paths)
    assert any(d == "edited" for d, _ in promoted.values())
    assert any(d == "added" for d, _ in promoted.values())

    class Boom(RuntimeError):
        pass

    pred = F.col("approved")
    for seam in (1, 2, 3):
        def crash(i, seam=seam):
            if i == seam:
                raise Boom(f"killed after commit {i}")

        with pytest.raises(Boom):
            sinks.promote_records(
                spark, predicate=pred, key_cols=["s_suppkey"],
                staging_key_cols=["s_suppkey", "submission_id"],
                action_col="action", promote_id="pr-1", on_between=crash,
                **paths,
            )
        # each crash leaves only MORE commits done; nothing is lost:
        # main holds the promote once from commit 2 on, and staging
        # still serves every row until its commit (the last)
        assert _main_rows(spark, paths) == (base_main if seam == 1 else expected_main)
        staging_view = sinks.read_current(spark, paths["staging_path"])
        assert staging_view.count() == sup.where(F.col("s_suppkey") % 2 == 0).count()

    sinks.promote_records(
        spark, predicate=pred, key_cols=["s_suppkey"],
        staging_key_cols=["s_suppkey", "submission_id"],
        action_col="action", promote_id="pr-1", **paths,
    )
    # every register holds its setup version plus ONE for the promote
    committed = _versions(paths["main_path"]), _versions(paths["staging_path"])
    assert [len(v) for v in committed] == [2, 2]
    sinks.promote_records(  # full replay after success: commits nothing
        spark, predicate=pred, key_cols=["s_suppkey"],
        staging_key_cols=["s_suppkey", "submission_id"],
        action_col="action", promote_id="pr-1", **paths,
    )
    assert (_versions(paths["main_path"]), _versions(paths["staging_path"])) == committed
    assert _main_rows(spark, paths) == expected_main
    st = _status_rows(spark, paths["status_path"])
    assert {(r["s_suppkey"], r["disposition"]) for r in st} == {
        (k, d) for k, (d, _) in promoted.items()
    }
    assert len(st) == len(promoted)  # exactly one status row per key
    got_staging = {
        r["s_suppkey"] for r in sinks.read_current(spark, paths["staging_path"]).collect()
    }
    # invalid rows (rejected) remain in staging; promoted ones are gone
    assert got_staging == {k for k, _ in sup_rows if k % 2 == 0} - set(promoted)


def test_promote_records_second_promote_edits_first_promotes_adds(spark, sf_dir, tmp_path):
    """Composition: a second promote whose Edits target keys the FIRST
    promote Added must see them in main's current version and replace
    them exactly once."""
    from pyspark.sql import functions as F

    sup, paths = _promote_setup(spark, sf_dir, tmp_path)
    sup_rows = [(r["s_suppkey"], r["s_acctbal"]) for r in sup.collect()]
    expected_main, promoted = _promote_expected(sup_rows)
    pred = F.col("approved")
    sinks.promote_records(
        spark, predicate=pred, key_cols=["s_suppkey"],
        staging_key_cols=["s_suppkey", "submission_id"],
        action_col="action", promote_id="pr-1", **paths,
    )
    # stage a second batch: Edit every previously-ADDED key to -1.0
    added = [k for k, (d, _) in promoted.items() if d == "added"]
    assert added
    _append(spark, paths["staging_path"], spark.createDataFrame(
        [(k, 2, -1.0, "Edit", True) for k in added],
        "s_suppkey long, submission_id int, s_acctbal double, action string, approved boolean",
    ))
    sinks.promote_records(
        spark, predicate=pred, key_cols=["s_suppkey"],
        staging_key_cols=["s_suppkey", "submission_id"],
        action_col="action", promote_id="pr-2", **paths,
    )
    for k in added:
        expected_main[k] = -1.0
    assert _main_rows(spark, paths) == expected_main


def test_promote_records_recomputes_uncommitted_delta(spark, sf_dir, tmp_path):
    """A promote killed mid job-commit (part files promoted, no
    _SUCCESS) — of its decision or of its main version — must be
    invisible to readers AND recomputed, never trusted, on replay."""
    import shutil

    from pyspark.sql import functions as F

    sup, paths = _promote_setup(spark, sf_dir, tmp_path)
    sup_rows = [(r["s_suppkey"], r["s_acctbal"]) for r in sup.collect()]
    expected_main, promoted = _promote_expected(sup_rows)

    # plant a bogus partial decision and main version: wrong rows, no marker
    staged = str(tmp_path / "staged")
    sup.limit(3).coalesce(1).write.parquet(staged)
    stale_main = os.path.join(paths["main_path"], f"v{'9' * 25}-pr-1")
    for partial in (os.path.join(paths["main_path"], "promotes", "pr-1"), stale_main):
        os.makedirs(partial)
        for f in os.listdir(staged):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(staged, f), partial)
    # uncommitted attempts are invisible: main is still its setup version
    base_keys = {r["s_suppkey"] for r in sup.where(F.col("s_suppkey") % 4 != 0).collect()}
    assert {r["s_suppkey"] for r in sinks.read_current(spark, paths["main_path"]).collect()} == base_keys

    sinks.promote_records(
        spark, predicate=F.col("approved"), key_cols=["s_suppkey"],
        staging_key_cols=["s_suppkey", "submission_id"],
        action_col="action", promote_id="pr-1", **paths,
    )
    assert _main_rows(spark, paths) == expected_main
    assert not os.path.exists(stale_main)


def test_promote_records_random_sequences_match_model(spark, tmp_path):
    """Model check for the promote write side (the move sink's
    randomized twin): a random sequence of staged batches (random
    Add/Edit actions, same-key resubmissions across batches,
    randomly interleaved replays of earlier promotes) must leave
    main/staging/status exactly equal to a pure-Python model where
    each promote applies every still-staged approved row with
    Add-needs-missing / Edit-needs-existing validation and removes
    exactly the applied submissions from staging. Row values derive
    from the key alone, so same-key duplicates within one promote
    (possible when a rejected row is retried beside a resubmission)
    cannot make the comparison tie-break-sensitive; main must still
    hold one row per key."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260815)
    staging = str(tmp_path / "staging")
    main = str(tmp_path / "main")
    status = str(tmp_path / "status")

    def val(k):
        return k * 1.5

    base_keys = list(range(0, 12))
    sinks._commit_version(
        spark.createDataFrame([(k, val(k)) for k in base_keys], "k long, v double"), main
    )

    model_main = {k: val(k) for k in base_keys}
    model_staged: dict[tuple, str] = {}  # (k, sub) -> action, still in staging
    model_status = 0
    history = []
    sub = 0
    for i in range(6):
        # stage a random batch: some fresh keys, some existing, some resubmits
        batch = []
        for _ in range(rng.randrange(2, 6)):
            sub += 1
            k = rng.randrange(0, 30)
            action = rng.choice(["Add", "Edit"])
            batch.append((k, sub, val(k), action, True))
            model_staged[(k, sub)] = action
        _append(spark, staging, spark.createDataFrame(
            batch, "k long, sub long, v double, action string, approved boolean"
        ))

        pid = f"pr-{i}"
        sinks.promote_records(
            spark, staging, main, status,
            F.col("approved"), ["k"], "action", pid,
            staging_key_cols=["k", "sub"],
        )
        history.append(pid)
        # model: apply every still-staged approved row
        valid = [
            (k, s) for (k, s), a in model_staged.items()
            if (a == "Edit") == (k in model_main)
        ]
        for k, s in valid:
            model_main[k] = val(k)
        for ks in valid:
            del model_staged[ks]
        model_status += len(valid)
        if rng.random() < 0.5:  # replay a random earlier promote: commits nothing
            committed = _versions(main), _versions(staging)
            sinks.promote_records(
                spark, staging, main, status,
                F.col("approved"), ["k"], "action", rng.choice(history),
                staging_key_cols=["k", "sub"],
            )
            assert (_versions(main), _versions(staging)) == committed

    got = sinks.read_current(spark, main).select("k", "v").collect()
    assert {r["k"]: r["v"] for r in got} == model_main
    assert len(got) == len(model_main)  # one row per key
    got_staged = {(r["k"], r["sub"]) for r in sinks.read_current(spark, staging).collect()}
    assert got_staged == set(model_staged)
    assert len(_status_rows(spark, status)) == model_status


def test_promote_seq_survives_empty_committed_deltas(spark, sf_dir, tmp_path):
    """A promote whose predicate matches nothing commits an EMPTY
    decision and unchanged versions of main and staging; the next real
    promote must then fully succeed and read back correctly."""
    from pyspark.sql import functions as F

    sup, paths = _promote_setup(spark, sf_dir, tmp_path)
    sup_rows = [(r["s_suppkey"], r["s_acctbal"]) for r in sup.collect()]
    expected_main, promoted = _promote_expected(sup_rows)

    # promote 1: predicate selects nothing -> empty decision commits
    sinks.promote_records(
        spark, predicate=F.lit(False), key_cols=["s_suppkey"],
        staging_key_cols=["s_suppkey", "submission_id"],
        action_col="action", promote_id="pr-empty", **paths,
    )
    sinks.promote_records(
        spark, predicate=F.col("approved"), key_cols=["s_suppkey"],
        staging_key_cols=["s_suppkey", "submission_id"],
        action_col="action", promote_id="pr-real", **paths,
    )
    assert _main_rows(spark, paths) == expected_main
    # the empty promote contributed zero status rows; the real one, all
    assert len(_status_rows(spark, paths["status_path"])) == len(promoted)


def test_promote_records_bootstraps_brand_new_main(spark, tmp_path):
    """A first Add-only promote onto a main register with NO committed
    version must treat the main key set as empty (Adds validate, Edits
    reject) instead of raising — but only under an explicit
    ``bootstrap_ok=True`` opt-in (an unconditional bootstrap would let
    a mistyped main_path silently initialize a fresh register)."""
    import pytest
    from pyspark.sql import functions as F

    staging = str(tmp_path / "staging")
    main = str(tmp_path / "main")  # never written: brand-new register
    paths = dict(staging_path=staging, main_path=main, status_path=str(tmp_path / "status"))
    sinks._commit_version(spark.createDataFrame(
        [(1, 1, 10.0, "Add", True), (2, 1, 20.0, "Add", True),
         (3, 1, 30.0, "Edit", True)],  # Edit on empty main: invalid
        "s_suppkey long, submission_id int, s_acctbal double, action string, approved boolean",
    ), staging)
    # without the opt-in, a missing main register fails loudly
    with pytest.raises(ValueError, match="bootstrap_ok"):
        sinks.promote_records(
            spark, predicate=F.col("approved"), key_cols=["s_suppkey"],
            staging_key_cols=["s_suppkey", "submission_id"],
            action_col="action", promote_id="pr-boot", **paths,
        )
    assert sinks.read_current(spark, main) is None
    sinks.promote_records(
        spark, predicate=F.col("approved"), key_cols=["s_suppkey"],
        staging_key_cols=["s_suppkey", "submission_id"],
        action_col="action", promote_id="pr-boot", bootstrap_ok=True, **paths,
    )
    assert _main_rows(spark, paths) == {1: 10.0, 2: 20.0}
    # the rejected Edit stays staged for resubmission
    assert {r["s_suppkey"] for r in sinks.read_current(spark, staging).collect()} == {3}


# ---------------------------------------------------------------------------
# Writer-lease contract: registers are single-writer; a live concurrent
# writer fails LOUDLY, a crashed holder's stale lease never bricks the
# register, and re-entry is per thread.
# ---------------------------------------------------------------------------


def test_promote_blocked_by_live_lease_leaves_register_untouched(spark, sf_dir, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    _, paths = _promote_setup(spark, sf_dir, tmp_path)
    before = _versions(paths["main_path"]), _versions(paths["staging_path"])
    lease = paths["main_path"].rstrip("/") + ".__lease__"
    with open(lease, "w") as fh:
        fh.write("pid=99999 purpose=promote")  # fresh mtime: a live writer
    with pytest.raises(sinks.ConcurrentWriterError, match="single-writer"):
        sinks.promote_records(
            spark, predicate=F.col("approved"), key_cols=["s_suppkey"],
            action_col="action", promote_id="p1",
            staging_key_cols=["s_suppkey", "submission_id"], **paths,
        )
    # no partial effect anywhere: no decision, no version, no status
    assert not os.path.exists(os.path.join(paths["main_path"], "promotes"))
    assert (_versions(paths["main_path"]), _versions(paths["staging_path"])) == before
    assert not os.path.exists(paths["status_path"])
    os.remove(lease)
    assert os.path.exists(lease) is False


def test_stale_lease_is_stolen_and_promote_proceeds(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    sup, paths = _promote_setup(spark, sf_dir, tmp_path)
    lease = paths["main_path"].rstrip("/") + ".__lease__"
    with open(lease, "w") as fh:
        fh.write("pid=99999 purpose=promote")
    old = os.path.getmtime(lease) - sinks.LEASE_TTL_S - 60
    os.utime(lease, (old, old))  # a holder that died without releasing
    sinks.promote_records(
        spark, predicate=F.col("approved"), key_cols=["s_suppkey"],
        action_col="action", promote_id="p1",
        staging_key_cols=["s_suppkey", "submission_id"], **paths,
    )
    want_main, _ = _promote_expected(sup.collect())
    assert _main_rows(spark, paths) == want_main
    assert not os.path.exists(lease)  # released after the steal


# ---------------------------------------------------------------------------
# r13 lease hardening (ADVICE r12): pid-liveness steal for crashed
# same-host holders, and the rename-and-verify steal that closes the
# stat->remove TOCTOU (a blind remove could delete a FRESH lease a
# competing stealer just created, letting two writers acquire).
# ---------------------------------------------------------------------------


def _spawn_dead_pid() -> int:
    """A pid that existed and is now guaranteed dead (reaped child)."""
    import subprocess

    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_dead_same_host_holder_is_stolen_immediately(tmp_path):
    """A kill -9'd promote leaves a FRESH lease; its recorded pid is
    dead on this host, so crash-replay acquires immediately instead of
    erroring out for up to LEASE_TTL_S (ADVICE r12)."""
    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write(f"pid={_spawn_dead_pid()} host={sinks._HOSTNAME} purpose=promote")
    with sinks.register_lease(root, "replay"):
        assert os.path.exists(lease)  # ours now
    assert not os.path.exists(lease)


def test_live_same_host_holder_still_blocks(tmp_path):
    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write(f"pid={os.getpid()} host={sinks._HOSTNAME} purpose=promote")
    with pytest.raises(sinks.ConcurrentWriterError, match="single-writer"):
        with sinks.register_lease(root, "second"):
            pass
    os.remove(lease)


def test_unverifiable_holder_keeps_ttl_fallback(tmp_path):
    """A dead-looking pid on ANOTHER host must not be stolen early —
    pid namespaces differ across hosts, so only the TTL applies."""
    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write(f"pid={_spawn_dead_pid()} host=some-other-host purpose=promote")
    with pytest.raises(sinks.ConcurrentWriterError):
        with sinks.register_lease(root, "second"):
            pass
    os.remove(lease)


def test_steal_lease_removes_only_the_observed_file(tmp_path):
    lease = str(tmp_path / "reg.__lease__")
    with open(lease, "w") as fh:
        fh.write("pid=1 purpose=old")
    observed = os.stat(lease)
    assert sinks._steal_lease(lease, observed) is True
    assert not os.path.exists(lease)


def test_steal_lease_restores_a_displaced_fresh_lease(tmp_path):
    """TOCTOU closed: if the file at the lease path is no longer the
    one observed stale (a competing stealer removed it and created a
    fresh lease in between), the steal must NOT destroy it — the
    fresh lease is restored byte-identical and the steal reports
    failure, so the caller re-examines and then blocks on the live
    holder."""
    import time as _time

    lease = str(tmp_path / "reg.__lease__")
    with open(lease, "w") as fh:
        fh.write("pid=1 purpose=stale-holder")
    observed = os.stat(lease)
    # competing stealer wins: stale lease gone, fresh LIVE lease in place
    os.remove(lease)
    _time.sleep(0.01)  # distinct mtime even on coarse filesystems
    with open(lease, "w") as fh:
        fh.write("pid=2 purpose=fresh-winner")
    assert sinks._steal_lease(lease, observed) is False
    assert open(lease).read() == "pid=2 purpose=fresh-winner"
    assert not os.path.exists(f"{lease}.steal.{os.getpid()}")


# ---------------------------------------------------------------------------
# r14 lease hardening (ADVICE r13): exhausted acquisition RAISES (the
# for/else regression let a writer proceed unprotected and then delete
# a competitor's live lease on exit), release is token-verified, a
# TTL-overrun holder that is verifiably alive keeps blocking, and a
# displaced live lease that cannot be restored is preserved, not
# deleted.
# ---------------------------------------------------------------------------


def test_exhausted_lease_acquisition_raises_not_proceeds(tmp_path, monkeypatch):
    """All bounded attempts failing must raise ConcurrentWriterError —
    never fall through to 'acquired'. Simulated by a stale lease whose
    steal always loses (a churning competitor)."""
    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write("pid=99999 host=elsewhere purpose=promote")
    old = os.path.getmtime(lease) - sinks.LEASE_TTL_S - 60
    os.utime(lease, (old, old))
    monkeypatch.setattr(sinks, "_steal_lease", lambda *_: False)
    with pytest.raises(sinks.ConcurrentWriterError, match="could not acquire"):
        with sinks.register_lease(root, "churned-out"):
            raise AssertionError("must not acquire")
    # the loser touched nothing: the competitor's lease file survives
    assert open(lease).read() == "pid=99999 host=elsewhere purpose=promote"
    assert lease not in sinks._HELD_LEASES


def test_ttl_overrun_live_holder_still_blocks(tmp_path):
    """ADVICE r13 (schedule tick): a holder PAST the TTL whose
    same-host pid is verifiably alive (a >900 s daily sync) must keep
    blocking — stealing it re-opens the concurrent double-run."""
    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write(f"pid={os.getpid()} host={sinks._HOSTNAME} purpose=long-sync")
    old = os.path.getmtime(lease) - sinks.LEASE_TTL_S - 3600
    os.utime(lease, (old, old))
    with pytest.raises(sinks.ConcurrentWriterError, match="single-writer"):
        with sinks.register_lease(root, "second"):
            pass
    assert os.path.exists(lease)  # still the long holder's
    os.remove(lease)


def test_release_is_token_verified(tmp_path):
    """A holder whose lease was stolen mid-hold (TTL overrun) must not
    delete the thief's lease on exit — release only removes a file
    that still carries OUR token."""
    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with sinks.register_lease(root, "overrunner"):
        # a thief (TTL steal on another host) replaced our lease
        os.remove(lease)
        with open(lease, "w") as fh:
            fh.write("pid=424242 host=thief purpose=stolen")
    assert open(lease).read() == "pid=424242 host=thief purpose=stolen"
    os.remove(lease)


def test_steal_lease_preserves_displaced_lease_when_restore_fails(
    tmp_path, monkeypatch
):
    """If the displaced-live-lease restore loses to a third writer
    (os.link EEXIST), the displaced holder's record must survive at
    the steal path — deleting it silently destroyed a live
    acquisition (ADVICE r13)."""
    import time as _time

    import pytest

    lease = str(tmp_path / "reg.__lease__")
    with open(lease, "w") as fh:
        fh.write("pid=1 purpose=stale-holder")
    observed = os.stat(lease)
    os.remove(lease)
    _time.sleep(0.01)
    with open(lease, "w") as fh:
        fh.write("pid=2 purpose=fresh-winner")

    def _link_loses(src, dst):
        raise FileExistsError(17, "third writer already re-acquired", dst)

    monkeypatch.setattr(os, "link", _link_loses)
    with pytest.warns(UserWarning, match="could not restore"):
        assert sinks._steal_lease(lease, observed) is False
    steal = f"{lease}.steal.{os.getpid()}"
    assert open(steal).read() == "pid=2 purpose=fresh-winner"


def test_lease_reentrancy_is_per_thread(tmp_path):
    """The holding thread re-enters its lease; another thread of the
    same process is a second writer and raises while the lease is
    held (a threaded server running two register writes at once)."""
    import threading

    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    with sinks.register_lease(root, "outer"):
        with sinks.register_lease(root, "inner"):
            pass
        assert os.path.exists(lease)  # the inner exit kept the outer's lease
    assert not os.path.exists(lease)

    held, release = threading.Event(), threading.Event()

    def holder():
        with sinks.register_lease(root, "thread-a"):
            held.set()
            release.wait(60)

    t = threading.Thread(target=holder)
    t.start()
    try:
        assert held.wait(60)
        with pytest.raises(sinks.ConcurrentWriterError, match="single-writer"):
            with sinks.register_lease(root, "thread-b"):
                pass
        assert os.path.exists(lease)  # still thread A's
    finally:
        release.set()
        t.join()
    assert not os.path.exists(lease)
