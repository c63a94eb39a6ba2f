"""Mutation/upsert semantics — SURVEY §2.11 (M1-M6) expressed as pure
dataflow: the post-state of each mutation is computed as a join+union
rewrite (the Delta-MERGE emulation SURVEY §7.3 calls for). Each query
returns the final table state plus a disposition column so the oracle
verifies the per-row merge semantics, not just the end count.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.merge import approval_disposition, merge, s, t
from ..tables import load_table
from .registry import register

# ---------------------------------------------------------------------------
# M1/M2 — conditional upsert (exists -> update, else insert)
# ---------------------------------------------------------------------------


@register(
    "upsert_orders",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
), source AS (
  SELECT o_orderkey, o_totalprice + 1000.0 AS new_price
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       coalesce(s.new_price, t.o_totalprice) AS price,
       CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL THEN 'updated'
            WHEN t.o_orderkey IS NOT NULL THEN 'kept'
            ELSE 'inserted' END AS disposition
FROM target t FULL JOIN source s ON t.o_orderkey = s.o_orderkey
""",
    survey_ref="M1 M2",
)
def upsert_orders(spark, sf_dir):
    """MERGE INTO semantics (reference insert_tag_endpoint
    app.py:4544-4690: exists -> update, else insert) as a full-outer
    join + coalesce rewrite. On Delta this is literally MERGE; the
    dataflow form shown here is the engine-internal equivalent and
    shuffles each side once on the key."""
    o = load_table(spark, sf_dir, "orders")
    target = o.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    source = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", (F.col("o_totalprice") + 1000.0).alias("new_price")
    )
    matched = t("o_orderkey").isNotNull() & s("o_orderkey").isNotNull()
    return merge(target, source, "o_orderkey", {
        "price": F.coalesce(s("new_price"), t("o_totalprice")),
        "disposition": F.when(matched, F.lit("updated"))
        .when(t("o_orderkey").isNotNull(), F.lit("kept"))
        .otherwise(F.lit("inserted")),
    })


# ---------------------------------------------------------------------------
# M3 — delete-by-key (anti-join rewrite)
# ---------------------------------------------------------------------------


@register(
    "delete_by_key",
    oracle="""
SELECT o_orderkey, o_orderstatus FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0)
""",
    survey_ref="M3",
)
def delete_by_key(spark, sf_dir):
    """DELETE WHERE key IN (...) (reference app.py:5216-5250) as an
    anti-join against the delete set — the copy-on-write rewrite a
    lakehouse delete performs."""
    o = load_table(spark, sf_dir, "orders")
    delete_keys = o.where(F.col("o_orderkey") % 10 == 0).select("o_orderkey")
    return o.join(delete_keys, "o_orderkey", "left_anti").select("o_orderkey", "o_orderstatus")


# ---------------------------------------------------------------------------
# M4 — soft delete (flag update)
# ---------------------------------------------------------------------------


@register(
    "soft_delete_users",
    oracle="""
SELECT c_custkey AS user_key,
       CASE WHEN c_custkey % 7 = 0 THEN 0 ELSE 1 END AS is_active,
       lower(c_name) AS email
FROM customer
""",
    survey_ref="M4 F5",
)
def soft_delete_users(spark, sf_dir):
    """Soft delete = conditional flag update (reference
    delete_user_endpoint app.py:4484-4514 sets isActive=0), with the
    LOWER(email) normalization of app.py:4388."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("user_key"),
        F.when(F.col("c_custkey") % 7 == 0, 0).otherwise(1).alias("is_active"),
        F.lower(F.col("c_name")).alias("email"),
    )


# ---------------------------------------------------------------------------
# M5/M6 — approval promote: history -> main with Add/Edit semantics
# ---------------------------------------------------------------------------


@register(
    "promote_approved",
    oracle="""
WITH main AS (
  SELECT p_partkey, p_retailprice AS price FROM part WHERE p_partkey % 4 <> 0
), history AS (
  SELECT p_partkey, p_retailprice + 50.0 AS new_price,
         CASE WHEN p_partkey % 8 = 0 THEN 'Add' ELSE 'Edit' END AS action
  FROM part WHERE p_partkey % 2 = 0
)
SELECT coalesce(m.p_partkey, h.p_partkey) AS p_partkey,
       CASE
         WHEN h.p_partkey IS NULL THEN m.price
         WHEN m.p_partkey IS NOT NULL AND h.action = 'Edit' THEN h.new_price
         WHEN m.p_partkey IS NOT NULL AND h.action = 'Add' THEN m.price
         WHEN h.action = 'Add' THEN h.new_price
         ELSE NULL END AS price,
       CASE
         WHEN h.p_partkey IS NULL THEN 'unchanged'
         WHEN m.p_partkey IS NOT NULL AND h.action = 'Edit' THEN 'edited'
         WHEN m.p_partkey IS NOT NULL AND h.action = 'Add' THEN 'rejected_add'
         WHEN h.action = 'Add' THEN 'added'
         ELSE 'rejected_edit' END AS disposition
FROM main m FULL JOIN history h ON m.p_partkey = h.p_partkey
WHERE NOT (m.p_partkey IS NULL AND h.action = 'Edit')
""",
    survey_ref="M5 M6",
)
def promote_approved(spark, sf_dir):
    """Approval-queue promote (reference approve_tag_equipment
    app.py:5706-5888): pending history rows apply to the main register
    with Add-vs-Edit validation — Edit needs an existing row, Add
    needs a missing one; invalid combinations are rejected. One
    full-outer join computes every disposition."""
    p = load_table(spark, sf_dir, "part")
    main = p.where(F.col("p_partkey") % 4 != 0).select(
        "p_partkey", F.col("p_retailprice").alias("price")
    )
    history = p.where(F.col("p_partkey") % 2 == 0).select(
        "p_partkey",
        (F.col("p_retailprice") + 50.0).alias("new_price"),
        F.when(F.col("p_partkey") % 8 == 0, F.lit("Add")).otherwise(F.lit("Edit")).alias("action"),
    )
    disposition = approval_disposition("p_partkey", "action")
    return merge(main, history, "p_partkey", {
        "price": F.when(disposition.isin("edited", "added"), s("new_price"))
        .otherwise(t("price")),
        "disposition": disposition,
    }).where(F.col("disposition") != "rejected_edit")


# ---------------------------------------------------------------------------
# M5 — record move across tables (insert into target + delete from source)
# ---------------------------------------------------------------------------


@register(
    "move_record",
    oracle="""
WITH equipment AS (
  SELECT p_partkey AS key, p_retailprice AS price FROM part WHERE p_partkey % 3 <> 0
), instrument AS (
  SELECT p_partkey AS key, p_retailprice AS price FROM part WHERE p_partkey % 3 = 0
), moves AS (
  SELECT key FROM equipment WHERE key % 5 = 0
)
SELECT 'equipment' AS tbl, key, price FROM equipment
WHERE key NOT IN (SELECT key FROM moves)
UNION ALL
SELECT 'instrument', key, price FROM instrument
UNION ALL
SELECT 'instrument', e.key, e.price FROM equipment e JOIN moves m ON e.key = m.key
""",
    survey_ref="M5",
)
def move_record(spark, sf_dir):
    """Record move across register tables (reference ApprovalEditData
    app.py:5365-5444: transactional insert-into-target + delete-from-
    source when a tag's type changes). As a dataflow: the post-state of
    BOTH tables in one result — source anti-joined against the move
    set, target unioned with the moved rows. Atomicity comes from
    writing both post-states in one job (Delta txn at deploy time)."""
    p = load_table(spark, sf_dir, "part")
    equipment = p.where(F.col("p_partkey") % 3 != 0).select(
        F.col("p_partkey").alias("key"), F.col("p_retailprice").alias("price")
    )
    instrument = p.where(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("key"), F.col("p_retailprice").alias("price")
    )
    moves = equipment.where(F.col("key") % 5 == 0).select("key")
    remaining = equipment.join(moves, "key", "left_anti").select(
        F.lit("equipment").alias("tbl"), "key", "price"
    )
    target = instrument.select(F.lit("instrument").alias("tbl"), "key", "price")
    moved = equipment.join(moves, "key", "left_semi").select(
        F.lit("instrument").alias("tbl"), "key", "price"
    )
    return remaining.unionByName(target).unionByName(moved)


@register(
    "scd2_history",
    oracle="""
WITH latest AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
),
v AS (SELECT * FROM latest WHERE rn = 1)
SELECT o_custkey AS cust_id,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       o_orderstatus AS status,
       o_totalprice AS price,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM v
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
""",
    survey_ref="M-family extension: SCD2 history build (generalizes M2/M6 "
    "overwrite-in-place, app.py:5287-5319, into kept history)",
)
def scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type 2 — rebuild a keyed change log
    into validity intervals [valid_from, valid_to) with an is_current
    flag. The reference's UpdateData/approval flows overwrite rows in
    place (app.py:5287-5319); SCD2 is the warehouse-native variant
    that keeps every version, and the dataflow is pure windowing: one
    shuffle on the entity key, then lead() closes each interval and
    row_number() stamps the version. Same-day duplicate changes
    collapse to the highest o_orderkey first (deterministic both
    engines), so intervals never zero-width."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    w_dedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    v = (
        o.withColumn("rn", F.row_number().over(w_dedup))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    return v.select(
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )
