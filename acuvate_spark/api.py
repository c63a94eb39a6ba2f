"""TagRegistry — the reference's endpoint surface (SURVEY §3) as a
library API over the Spark engine.

Each method is the Spark-native re-expression of a Flask endpoint
family; a caller of the reference backend maps 1:1 onto these:

| reference endpoint (app.py) | here |
|---|---|
| /api/Home/GetData (5029-5109) | ``get_data`` |
| EditData search (5186-5209) | ``find_tag`` |
| insert_tag (4544-4690) | ``upsert_tags`` |
| delete (5216-5250) | ``delete_tags`` |
| delete_user soft (4484-4514) | ``soft_delete_user`` |
| approve (5706-5888) | ``apply_approvals`` |
| sync_tags (6631-6740) | ``sync_rows`` |
| uploadExcel (6022-6441) | ``import_rows`` (two-phase) |
| export (7379-7483) | ``export_excel`` |

State lives in parquet register directories (one per tag family, as
the reference keeps one Snowflake table per family). Mutations are
copy-on-write: compute the post-state dataflow, write to a new
version directory, atomically repoint. Each mutation holds the
register's writer lease (``sinks.register_lease``, the sibling file
``<root>/<register>.__lease__``) from the read of the current version
to the commit, so a second concurrent writer on the register raises
``sinks.ConcurrentWriterError`` instead of silently dropping an
update. That gives single-writer transactional semantics without a
table format; on a deployment with Delta/Iceberg the same dataflows
feed MERGE/DELETE instead.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import tags as tagfn
from .operators import sinks
from .operators.merge import approval_disposition, first_per_key, merge, s, t
from .session import tune

REGISTER_TYPES = ("Equipment", "Instrument", "Line", "Cable")
REGISTER_COLUMNS = {
    "tag_no": "string", "description": "string", "document": "string",
    "modified_by": "string", "modified_date": "timestamp",
}


def _register_write(method):
    """Run a mutation ``method(self, register, ...)`` under the
    register's writer lease; a nested call from the same thread
    re-enters it."""

    @functools.wraps(method)
    def locked(self, register: str, *args, **kwargs):
        with sinks.register_lease(self._versions_dir(register), method.__name__):
            return method(self, register, *args, **kwargs)

    return locked


class TagRegistry:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = tune(spark)
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- storage (versioned copy-on-write) ---------------------------------

    def _versions_dir(self, register: str) -> str:
        return os.path.join(self.root, register.lower())

    def _current_path(self, register: str) -> str | None:
        return sinks._current_version(self._versions_dir(register))

    def _write_version(self, register: str, df: DataFrame) -> str:
        return sinks._commit_version(df, self._versions_dir(register))

    def table(self, register: str) -> DataFrame:
        path = self._current_path(register)
        if path is None:
            return sinks.empty_frame(self.spark, REGISTER_COLUMNS)
        return sinks._read_version(self.spark, path)

    # --- reads -------------------------------------------------------------

    def get_data(
        self, register: str, page: int = 1, page_size: int = 10, search: str | None = None
    ) -> DataFrame:
        """Paginated register read with optional ILIKE search and
        COUNT(*) OVER() total (reference app.py:5070-5096)."""
        df = self.table(register)
        if search:
            df = df.where(F.col("tag_no").ilike(f"%{search}%"))
        start = (page - 1) * page_size
        # distributed top-(offset+n) page + broadcast 1-row total: the
        # old COUNT(*) OVER () / global row_number pair funneled the
        # whole filtered register through one WindowExec partition
        total = df.agg(F.count("*").alias("totalCount"))
        page_rows = (
            df.orderBy(F.col("modified_date").desc(), F.col("tag_no").desc())
            .offset(start)
            .limit(page_size)
        )
        return page_rows.crossJoin(F.broadcast(total))

    def get_data_after(
        self, register: str, page_size: int = 10, after: tuple | None = None, search: str | None = None
    ) -> DataFrame:
        """Keyset pagination — the 100 TB replacement for OFFSET
        paging: pages are addressed by the (modified_date, tag_no) of
        the previous page's last row, so every page is a pushable
        range filter + distributed top-k instead of a global
        row_number. ``after`` is that (modified_date, tag_no) pair."""
        df = self.table(register)
        if search:
            df = df.where(F.col("tag_no").ilike(f"%{search}%"))
        # NULL modified_date sorts (and compares) as the epoch so such
        # rows stay reachable — a raw NULL < cursor predicate would
        # silently drop them from every page after the first
        eff_date = F.coalesce(
            F.col("modified_date"), F.lit("1970-01-01 00:00:00").cast("timestamp")
        )
        if after is not None:
            last_date, last_tag = after
            if last_date is None:
                last_date = "1970-01-01 00:00:00"
            df = df.where(
                (eff_date < F.lit(last_date))
                | ((eff_date == F.lit(last_date)) & (F.col("tag_no") < F.lit(last_tag)))
            )
        return df.orderBy(eff_date.desc(), F.col("tag_no").desc()).limit(page_size)

    def find_tag(self, tag_no: str) -> DataFrame:
        """First match across registers in priority order (reference
        EditData app.py:5186-5209): union with priority + pick-first."""
        branches = []
        for prio, reg in enumerate(REGISTER_TYPES):
            branches.append(
                self.table(reg)
                .where(F.col("tag_no") == tag_no)
                .withColumn("tag_type", F.lit(reg))
                .withColumn("prio", F.lit(prio))
            )
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        # a key-less pick is safe here: the input is <= 4 rows by
        # construction (at most one exact tag_no match per register)
        return first_per_key(out, [], "prio").drop("prio")

    # --- mutations ---------------------------------------------------------

    @_register_write
    def upsert_tags(self, register: str, incoming: DataFrame) -> None:
        """MERGE: existing rows get updated fields + semicolon-merged
        document column; new rows insert (reference app.py:4544-4690).
        ``incoming`` contributes one row per ``tag_no``: the first by
        (description, document, modified_by), so a batch that lists a
        tag twice commits it once — every key lookup (``find_tag``)
        relies on at most one register row per tag."""
        inc = first_per_key(
            incoming.select("tag_no", "description", "document", "modified_by"),
            ["tag_no"], "description", "document", "modified_by",
        )
        both = t("tag_no").isNotNull() & s("tag_no").isNotNull()
        self._write_version(register, merge(self.table(register), inc, "tag_no", {
            "description": F.coalesce(s("description"), t("description")),
            "document": F.when(both, tagfn.merge_semicolon_sorted(t("document"), s("document")))
            .otherwise(F.coalesce(s("document"), t("document"))),
            "modified_by": F.coalesce(s("modified_by"), t("modified_by")),
            "modified_date": F.when(s("tag_no").isNotNull(), F.current_timestamp())
            .otherwise(t("modified_date"))
            .cast("timestamp"),
        }))

    @_register_write
    def delete_tags(self, register: str, tag_nos: list[str]) -> int:
        """DELETE by key (reference app.py:5216-5250); returns rows
        removed, which equals the row-count difference between the old
        and the new version. NULL contract: a register row whose
        ``tag_no`` is NULL survives every delete, ``None`` in
        ``tag_nos`` removes nothing, and a duplicate or unknown key in
        ``tag_nos`` removes its rows once or nothing."""
        existing = self.table(register)
        # an InSet predicate, NULL (no match) folded to false
        hit = F.coalesce(F.col("tag_no").isin(set(tag_nos)), F.lit(False))
        removed = existing.where(hit).count()
        self._write_version(register, existing.where(~hit))
        return removed

    @_register_write
    def apply_approvals(self, register: str, history: DataFrame) -> DataFrame:
        """Approval promote (reference app.py:5706-5888): PENDING
        history rows with action Add/Edit apply against the register
        with validation; returns the per-row dispositions and commits
        the post-state. ``history`` is evaluated once: its deduplicated
        pending rows are local-checkpointed, and those blocks live as
        long as the returned frame (approval queues are small)."""
        # one pending row per tag: duplicates (resubmitted approvals)
        # would fan out through the join and commit duplicate register
        # rows; deterministic pick = first by (description, action)
        pending = first_per_key(
            history.where(F.col("approval_status") == "PENDING").select(
                "tag_no", "description", "action"
            ),
            ["tag_no"], "description", "action",
        ).localCheckpoint(eager=True)
        disposition = approval_disposition("tag_no", "action")
        applied = disposition.isin("edited", "added")
        result = merge(self.table(register), pending, "tag_no", {
            "description": F.when(applied, s("description")).otherwise(t("description")),
            "document": F.coalesce(t("document"), F.lit("")),
            # applied rows get the approval stamp (reference stamps the
            # approval time, app.py:4838-4841) — otherwise added rows
            # carry NULLs that the sync window and pagination never see
            "modified_by": F.when(applied, F.lit("approval")).otherwise(t("modified_by")),
            "modified_date": F.when(applied, F.current_timestamp().cast("timestamp"))
            .otherwise(t("modified_date")),
            "disposition": disposition,
        }).where(F.col("disposition") != "rejected_edit")
        self._write_version(register, result.drop("disposition"))
        return result

    def soft_delete_user(self, users: DataFrame, email: str) -> DataFrame:
        """isActive=0 flag update (reference app.py:4484-4514)."""
        return users.withColumn(
            "is_active",
            F.when(F.lower(F.col("email")) == email.lower(), F.lit(0)).otherwise(
                F.col("is_active")
            ),
        )

    # --- egress ------------------------------------------------------------

    def sync_rows(self, window_start, window_end) -> DataFrame:
        """UNION-ALL sync of all registers inside a date window
        (reference sync_tags app.py:6638-6668)."""
        out = None
        for reg in REGISTER_TYPES:
            b = (
                self.table(reg)
                .where(F.col("modified_date").between(window_start, window_end))
                .select("tag_no", "description", F.lit(reg).alias("tag_type"))
            )
            out = b if out is None else out.unionByName(b)
        return out

    def export_excel(self, register: str, path: str, header_map=None, exclude=None) -> str:
        return sinks.export_excel(self.table(register), path, header_map, exclude)

    # --- Excel import (two-phase, reference app.py:6022-6441) --------------

    @_register_write
    def import_rows(self, register: str, rows: DataFrame) -> DataFrame:
        """Phase 1 validation: null-normalize tag, require description;
        split Add/Edit vs errors. Phase 2 commit: apply valid rows as
        an upsert. Returns the validation report against the register
        as it was before the commit. ``rows`` is evaluated once: the
        normalized rows are local-checkpointed, and those blocks live
        as long as the returned report (import batches are small)."""
        existing = self.table(register).select(F.col("tag_no").alias("e_tag"))
        v = rows.select(
            tagfn.null_normalize(F.col("tagno")).alias("tag_no"),
            tagfn.null_normalize(F.col("description")).alias("description"),
            F.coalesce(F.col("document"), F.lit("")).alias("document"),
            F.col("modified_by"),
        ).localCheckpoint(eager=True)
        report = (
            v.join(existing, v.tag_no == existing.e_tag, "left")
            .select(
                "tag_no",
                "description",
                "document",
                "modified_by",
                F.when(F.col("tag_no").isNull(), F.lit("MISSING_TAG"))
                .when(F.col("description").isNull(), F.lit("MISSING_DESCRIPTION"))
                .alias("error"),
                F.when(F.col("tag_no").isNull() | F.col("description").isNull(), F.lit("ERROR"))
                .when(F.col("e_tag").isNotNull(), F.lit("Edit"))
                .otherwise(F.lit("Add"))
                .alias("action"),
            )
        )
        # validity never depends on the join: upsert straight from v
        valid = v.where(F.col("tag_no").isNotNull() & F.col("description").isNotNull())
        if valid.take(1):
            self.upsert_tags(register, valid)
        return report
