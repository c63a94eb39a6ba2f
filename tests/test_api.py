"""Full lifecycle test of the TagRegistry API facade: insert -> read
(paginated) -> search -> excel import (two-phase) -> approvals ->
delete -> sync -> export. This is the 'a user of the reference backend
switches to this engine' path (SURVEY §3 endpoints end-to-end)."""

from __future__ import annotations

import datetime
import itertools

import pytest
from pyspark.sql import functions as F

from acuvate_spark.api import TagRegistry


@pytest.fixture()
def registry(spark, tmp_path):
    return TagRegistry(spark, str(tmp_path / "warehouse"))


def _incoming(spark, rows):
    return spark.createDataFrame(
        rows, "tag_no string, description string, document string, modified_by string"
    )


def test_full_lifecycle(spark, registry):
    # 1. upsert: initial inserts
    registry.upsert_tags(
        "Equipment",
        _incoming(
            spark,
            [
                ("E17-A_F-1001", "pump A", "DOC-1", "amy@example.com"),
                ("E17-A_F-1002", "pump B", "DOC-2", "amy@example.com"),
                ("E17-A_F-1003", "pump C", "DOC-2;DOC-3", "bob@example.com"),
            ],
        ),
    )
    assert registry.table("Equipment").count() == 3

    # 2. upsert again: one update (semicolon doc merge) + one insert
    registry.upsert_tags(
        "Equipment",
        _incoming(spark, [("E17-A_F-1002", "pump B rev2", "DOC-9", "bob@example.com"),
                          ("E17-A_F-1004", "pump D", "DOC-4", "bob@example.com")]),
    )
    t = {r["tag_no"]: r for r in registry.table("Equipment").collect()}
    assert len(t) == 4
    assert t["E17-A_F-1002"]["description"] == "pump B rev2"
    assert t["E17-A_F-1002"]["document"] == "DOC-2;DOC-9"  # merged set, sorted

    # 3. paginated read with search
    page = registry.get_data("Equipment", page=1, page_size=2, search="F-100").collect()
    assert len(page) == 2 and page[0]["totalCount"] == 4

    # 4. cross-register first-match search
    registry.upsert_tags(
        "Instrument", _incoming(spark, [("E17-A_PIT-2001", "meter", "", "amy@example.com")])
    )
    hit = registry.find_tag("E17-A_PIT-2001").collect()
    assert len(hit) == 1 and hit[0]["tag_type"] == "Instrument"

    # 5. two-phase excel import: 1 edit, 1 add, 2 errors
    rows = spark.createDataFrame(
        [
            ("E17-A_F-1001", "pump A rev2", "DOC-5", "carol@example.com"),
            ("E17-A_F-2000", "new pump", None, "carol@example.com"),
            ("nan", "bad row", None, "carol@example.com"),
            ("E17-A_F-3000", None, None, "carol@example.com"),
        ],
        "tagno string, description string, document string, modified_by string",
    )
    report = {(r["tag_no"], r["action"]): r for r in registry.import_rows("Equipment", rows).collect()}
    actions = sorted(a for (_, a) in report)
    assert actions == ["ERROR", "ERROR", "Add", "Edit"] or sorted(actions) == ["Add", "ERROR", "ERROR", "Edit"]
    t = {r["tag_no"]: r for r in registry.table("Equipment").collect()}
    assert t["E17-A_F-1001"]["description"] == "pump A rev2"
    assert "E17-A_F-2000" in t and len(t) == 5

    # 6. approvals: Edit on existing -> edited; Add on existing -> rejected
    history = spark.createDataFrame(
        [
            ("E17-A_F-1004", "pump D approved", "Edit", "PENDING"),
            ("E17-A_F-1001", "dup add", "Add", "PENDING"),
            ("E17-A_F-5000", "brand new", "Add", "PENDING"),
            ("E17-A_F-6000", "ghost edit", "Edit", "PENDING"),
        ],
        "tag_no string, description string, action string, approval_status string",
    )
    disp = {r["tag_no"]: r["disposition"] for r in registry.apply_approvals("Equipment", history).collect()}
    assert disp["E17-A_F-1004"] == "edited"
    assert disp["E17-A_F-1001"] == "rejected_add"
    assert disp["E17-A_F-5000"] == "added"
    assert "E17-A_F-6000" not in disp  # rejected_edit filtered

    # 7. delete by key
    removed = registry.delete_tags("Equipment", ["E17-A_F-1003", "NOPE"])
    assert removed == 1

    # 8. sync window over all registers
    now = datetime.datetime.now(datetime.timezone.utc)
    sync = registry.sync_rows(
        (now - datetime.timedelta(days=1)).replace(tzinfo=None),
        (now + datetime.timedelta(days=1)).replace(tzinfo=None),
    )
    types = {r["tag_type"] for r in sync.collect()}
    assert "Equipment" in types and "Instrument" in types

    # 9. export (CSV fallback in this env)
    out = registry.export_excel("Equipment", str(registry.root) + "/export.xlsx",
                                header_map={"tag_no": "Tag Number"})
    assert "Tag Number" in open(out).readline()


def test_keyset_pagination(spark, registry):
    registry.upsert_tags(
        "Line",
        _incoming(
            spark,
            [(f"E17-A_L-{i:04d}", f"line {i}", "", "amy@example.com") for i in range(25)],
        ),
    )
    page1 = registry.get_data_after("Line", page_size=10).collect()
    assert len(page1) == 10
    last = page1[-1]
    page2 = registry.get_data_after(
        "Line", page_size=10, after=(last["modified_date"], last["tag_no"])
    ).collect()
    assert len(page2) == 10
    assert {r["tag_no"] for r in page1}.isdisjoint({r["tag_no"] for r in page2})
    # keyset pages, concatenated, equal offset paging of the same order
    page3 = registry.get_data_after(
        "Line", page_size=10, after=(page2[-1]["modified_date"], page2[-1]["tag_no"])
    ).collect()
    all_keyset = [r["tag_no"] for r in page1 + page2 + page3]
    assert len(all_keyset) == 25 and len(set(all_keyset)) == 25


def test_registry_uncommitted_version_is_invisible(spark, tmp_path):
    """A register version whose writer was killed mid job-commit (part
    files, no _SUCCESS) must not become current — readers serve the
    previous committed version (r07, same crash-invisibility rule as
    the move/promote/merge sinks)."""
    import os
    import shutil

    from acuvate_spark.api import TagRegistry

    reg = TagRegistry(spark, str(tmp_path / "root"))
    df = spark.createDataFrame(
        [("T-1", "d", "doc", "u", None)],
        "tag_no string, description string, document string, "
        "modified_by string, modified_date timestamp",
    )
    reg._write_version("equip", df)
    assert reg.table("equip").count() == 1

    staged = str(tmp_path / "staged")
    df.limit(0).coalesce(1).write.parquet(staged)
    partial = os.path.join(reg._versions_dir("equip"), f"v{'9' * 25}")
    os.makedirs(partial)
    for f in os.listdir(staged):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(staged, f), partial)

    # the partial (empty) newer version is ignored; v1 still serves
    assert reg.table("equip").count() == 1


def test_backwards_clock_step_still_serves_latest_write(spark, registry, monkeypatch):
    """Versions are named by wall-clock ns and the highest committed
    number is current. A clock that steps BACK between two writes (an
    NTP correction) must not leave the second, committed write hidden
    behind the first: the new version is named at least current + 1."""
    import itertools
    import time

    clock = itertools.count(2 * 10**18, -(10**9))  # every read is 1 s earlier
    monkeypatch.setattr(time, "time_ns", lambda: next(clock))
    registry.upsert_tags(
        "Equipment", _incoming(spark, [("E17-A_F-1001", "pump A", "DOC-1", "amy@example.com")])
    )
    registry.upsert_tags(
        "Equipment",
        _incoming(spark, [("E17-A_F-1001", "pump A rev2", "DOC-1", "amy@example.com")]),
    )
    monkeypatch.undo()
    assert [r["description"] for r in registry.table("Equipment").collect()] == ["pump A rev2"]


def test_registry_writes_hold_the_register_lease(spark, registry):
    """Every mutation runs read -> compute -> commit under the
    register's writer lease: with a live writer (this host, a live pid)
    holding ``Line``'s lease, each write raises before it commits."""
    import os

    from acuvate_spark.operators import sinks

    _three_rows(spark, registry, "Line")
    before = registry._current_path("Line")
    lease = registry._versions_dir("Line") + ".__lease__"
    with open(lease, "w") as fh:
        fh.write(f"pid={os.getppid()} host={sinks._HOSTNAME} purpose=upsert_tags")
    history = spark.createDataFrame(
        [("E17-A_F-1001", "d", "Edit", "PENDING")],
        "tag_no string, description string, action string, approval_status string",
    )
    rows = spark.createDataFrame(
        [("E17-A_F-1001", "d", None, "u")],
        "tagno string, description string, document string, modified_by string",
    )
    writes = (
        lambda: registry.upsert_tags("Line", _incoming(spark, [("E17-A_F-1001", "d", "", "u")])),
        lambda: registry.delete_tags("Line", ["E17-A_F-1001"]),
        lambda: registry.apply_approvals("Line", history),
        lambda: registry.import_rows("Line", rows),
    )
    try:
        for write in writes:
            with pytest.raises(sinks.ConcurrentWriterError, match="single-writer"):
                write()
    finally:
        os.remove(lease)
    assert registry._current_path("Line") == before


# --- work counters ---------------------------------------------------------

_GROUPS = itertools.count()


def _work(spark, fn):
    """Run ``fn()`` under its own job group; returns (result, jobs,
    tasks run). The listener bus is drained on both sides so the
    status tracker has seen every job the call ran."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    group = f"test-api-work-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds]
    return out, len(jobs), sum(st.numCompletedTasks for st in stages if st is not None)


def _three_rows(spark, registry, register="Equipment"):
    registry.upsert_tags(
        register,
        _incoming(spark, [(f"E17-A_F-{i}", f"pump {i}", "DOC-1", "amy@example.com")
                          for i in (1001, 1002, 1003)]),
    )


def test_empty_register_reads_without_python_tasks(spark, registry):
    """A register with no committed version is a JVM-only empty
    relation of the register schema: collecting it runs no task (an
    empty createDataFrame runs a Python worker per partition)."""
    rows, _, tasks = _work(spark, lambda: registry.table("Line").collect())
    assert rows == [] and tasks == 0
    empty = registry.table("Line").schema
    _three_rows(spark, registry, "Line")
    assert registry.table("Line").schema == empty


def test_get_data_after_on_a_written_version_runs_one_job(spark, registry):
    """The writer records the schema of each version it commits, so a
    read passes it to the file source and runs no schema-inference job."""
    _three_rows(spark, registry)
    page, jobs, _ = _work(spark, lambda: registry.get_data_after("Equipment", 2).collect())
    assert [r["tag_no"] for r in page] == ["E17-A_F-1003", "E17-A_F-1002"]
    assert jobs == 1


def test_delete_tags_null_contract(spark, registry):
    from acuvate_spark.queries.dedup import _footer_rows

    registry._write_version(
        "Equipment",
        spark.createDataFrame(
            [("A", "a", "", "u", None), ("B", "b", "", "u", None),
             (None, "no tag", "", "u", None), ("C", "c", "", "u", None)],
            "tag_no string, description string, document string, "
            "modified_by string, modified_date timestamp",
        ),
    )

    def delete(tag_nos):
        before = registry._current_path("Equipment")
        removed, jobs, _ = _work(spark, lambda: registry.delete_tags("Equipment", tag_nos))
        after = registry._current_path("Equipment")
        assert removed == _footer_rows(spark, before) - _footer_rows(spark, after)
        assert jobs <= 3
        return removed

    # a duplicate counts once, an unknown key and None remove nothing
    assert delete(["A", "A", "ZZZ", None]) == 1
    assert delete([None]) == 0
    assert delete([]) == 0
    assert delete(["B", "C"]) == 2
    # the NULL-key row survived every delete
    assert [(r["tag_no"], r["description"]) for r in registry.table("Equipment").collect()] == [
        (None, "no tag")
    ]


def test_import_rows_evaluates_caller_rows_once(spark, registry):
    """Validation, the upsert commit and the returned report all read
    one local checkpoint of the caller's rows."""
    _three_rows(spark, registry)
    data = [
        ("E17-A_F-1001", "pump A rev2", "DOC-5", "carol@example.com"),
        ("E17-A_F-2000", "new pump", None, "carol@example.com"),
        ("nan", "bad row", None, "carol@example.com"),
        ("E17-A_F-3000", None, None, "carol@example.com"),
    ]
    seen = spark.sparkContext.accumulator(0)

    def tally(row):
        seen.add(1)
        return row

    rows = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 2).map(tally),
        "tagno string, description string, document string, modified_by string",
    )
    report, jobs, _ = _work(spark, lambda: registry.import_rows("Equipment", rows).collect())
    assert sorted((r["tag_no"] or "", r["action"]) for r in report) == [
        ("", "ERROR"), ("E17-A_F-1001", "Edit"), ("E17-A_F-2000", "Add"), ("E17-A_F-3000", "ERROR"),
    ]
    assert seen.value == len(data)
    assert jobs <= 7
    assert registry.table("Equipment").count() == 4


def test_upsert_and_import_commit_one_row_per_tag(spark, registry):
    """A batch that lists a tag twice commits one register row for it,
    the first by (description, document, modified_by); re-upserting
    the batch still leaves one."""
    batch = [("T-1", "b", "DOC-2", "u"), ("T-1", "a", "DOC-1", "u")]
    for _ in range(2):
        registry.upsert_tags("Equipment", _incoming(spark, batch))
        assert [(r["tag_no"], r["description"]) for r in registry.table("Equipment").collect()] == [
            ("T-1", "a")
        ]
    rows = spark.createDataFrame(
        [("T-2", "x", None, "u"), ("T-2", "y", None, "u")],
        "tagno string, description string, document string, modified_by string",
    )
    report = registry.import_rows("Equipment", rows).collect()
    assert sorted((r["tag_no"], r["action"]) for r in report) == [("T-2", "Add"), ("T-2", "Add")]
    assert sorted(r["tag_no"] for r in registry.table("Equipment").collect()) == ["T-1", "T-2"]


def test_merge_sites_keep_a_null_key_target_row(spark, registry):
    """NULL-key contract of operators.merge at every MERGE site: a NULL
    key matches nothing, so a NULL-key target row comes through once
    with its values unchanged."""
    from acuvate_spark.streaming import merge_sink

    stamp = datetime.datetime(2024, 1, 2, 3, 4, 5)
    orphan = (None, "no tag", "DOC-0", "u", stamp)
    registry._write_version(
        "Equipment",
        spark.createDataFrame(
            [orphan, ("A", "a", "DOC-1", "u", stamp)],
            "tag_no string, description string, document string, "
            "modified_by string, modified_date timestamp",
        ),
    )

    def orphans():
        return [tuple(r) for r in registry.table("Equipment").collect() if r["tag_no"] is None]

    registry.upsert_tags("Equipment", _incoming(spark, [("A", "a2", "DOC-2", "v"),
                                                       ("B", "b", "DOC-3", "v")]))
    assert orphans() == [orphan]
    registry.import_rows("Equipment", spark.createDataFrame(
        [("A", "a3", None, "w"), ("nan", "bad", None, "w")],
        "tagno string, description string, document string, modified_by string",
    ))
    assert orphans() == [orphan]
    registry.apply_approvals("Equipment", spark.createDataFrame(
        [("A", "a4", "Edit", "PENDING"), ("C", "c", "Add", "PENDING"), ("D", "d", "Edit", "PENDING")],
        "tag_no string, description string, action string, approval_status string",
    ))
    assert orphans() == [orphan]
    assert sorted(r["tag_no"] or "" for r in registry.table("Equipment").collect()) == [
        "", "A", "B", "C"
    ]

    target = spark.createDataFrame([(None, 7, 1), (1, 10, 5)], "key long, val long, seq long")
    batch = spark.createDataFrame([(1, 11, 6), (2, 20, 1)], "key long, val long, seq long")
    got = merge_sink.merge_batch(target, batch, key="key", seq_col="seq").collect()
    assert sorted(tuple(r) for r in got if r["key"] is not None) == [(1, 11, 6), (2, 20, 1)]
    assert [tuple(r) for r in got if r["key"] is None] == [(None, 7, 1)]


def test_upsert_and_approvals_job_counts_on_a_committed_register(spark, registry):
    """Work pins for the two MERGE writes on a register that already
    has a committed version."""
    _three_rows(spark, registry)
    _, jobs, _ = _work(spark, lambda: registry.upsert_tags(
        "Equipment", _incoming(spark, [("E17-A_F-1001", "pump A rev2", "DOC-5", "carol@example.com"),
                                       ("E17-A_F-2000", "new pump", "DOC-6", "carol@example.com")]),
    ))
    assert jobs <= 3
    history = spark.createDataFrame(
        [("E17-A_F-1002", "pump B rev2", "Edit", "PENDING"),
         ("E17-A_F-3000", "new pump", "Add", "PENDING"),
         ("E17-A_F-1003", "dup add", "Add", "PENDING")],
        "tag_no string, description string, action string, approval_status string",
    )
    result, jobs, _ = _work(
        spark, lambda: registry.apply_approvals("Equipment", history).collect()
    )
    assert jobs <= 8
    assert sorted(r["disposition"] for r in result if r["disposition"] != "unchanged") == [
        "added", "edited", "rejected_add"
    ]
