"""Change-data-capture patterns: MERGE/upsert and SCD2 history.

The reference pipeline append-inserts the daily feed with no notion of
updates (``/root/reference/dags/my_data_pipeline.py:106-115`` —
``INSERT INTO ... VALUES`` per batch, duplicates on re-run).  A complete
engine needs the other half of ingestion: applying a change set to a
snapshot (MERGE) and keeping attribute history (SCD2).  Spark has no
MERGE without a table format, so both are expressed as join shapes —
which is also exactly what a 1000-executor MERGE compiles to anyway:

- upsert = full outer join snapshot⋈changes on the key, change side
  wins, delete ops drop the row.  Shuffles both sides on the key once;
  at scale the snapshot is bucketed on the key so only the (small)
  change set moves.
- SCD2 = windowed change-ordering per key: each attribute version gets
  [valid_from, valid_to) from its own and the next change's timestamp.

The change set here is derived deterministically from the fixture
(key mod rules) so the oracle can reproduce it in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.tables import table
from ..operators._helpers import ts_str
from ..registry import register

# Deterministic change set over orders:
#   key % 17 == 3  -> D (delete)
#   key % 10 == 0  -> U (update: status 'X', price * 1.1)
#   key negative?  -> inserts use max_key + rank (new keys)
_CHANGES_SQL = """
changes AS (
  SELECT o_orderkey AS key, 'D' AS op,
         CAST(NULL AS VARCHAR) AS new_status, CAST(NULL AS DOUBLE) AS new_price
  FROM orders WHERE o_orderkey % 17 = 3
  UNION ALL
  SELECT o_orderkey, 'U', 'X',
         CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 1.1 AS DOUBLE)
  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 <> 3
  UNION ALL
  SELECT (SELECT MAX(o_orderkey) FROM orders) + 1 + (o_orderkey % 97), 'I', 'N',
         CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 0.5 AS DOUBLE)
  FROM orders WHERE o_orderkey % 100 = 7
)
"""


def _change_set(orders: DataFrame) -> DataFrame:
    """The SQL change set above, as a DataFrame (same rows, same types)."""
    k = F.col("o_orderkey")
    deletes = orders.filter(k % 17 == 3).select(
        k.alias("key"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("new_status"),
        F.lit(None).cast("double").alias("new_price"),
    )
    updates = orders.filter((k % 10 == 0) & (k % 17 != 3)).select(
        k.alias("key"),
        F.lit("U").alias("op"),
        F.lit("X").alias("new_status"),
        (F.col("o_totalprice").cast("decimal(38,6)") * 1.1).cast("double").alias("new_price"),
    )
    max_key = orders.agg(F.max("o_orderkey").alias("_mx"))
    inserts = (
        orders.filter(k % 100 == 7)
        .join(F.broadcast(max_key))
        .select(
            (F.col("_mx") + 1 + (k % 97)).alias("key"),
            F.lit("I").alias("op"),
            F.lit("N").alias("new_status"),
            (F.col("o_totalprice").cast("decimal(38,6)") * 0.5).cast("double").alias("new_price"),
        )
    )
    return deletes.unionByName(updates).unionByName(inserts)


@register(
    "cdc_merge_upsert",
    oracle="WITH "
    + _CHANGES_SQL
    + """,
dedup_changes AS (
  -- several source rows may mint the same insert key; keep one per key
  -- deterministically (min op/status/price tuple)
  SELECT key, MIN(op) AS op, MIN(new_status) AS new_status, MIN(new_price) AS new_price
  FROM changes GROUP BY key
)
SELECT COALESCE(c.key, s.o_orderkey) AS o_orderkey,
       CASE WHEN c.key IS NULL THEN s.o_orderstatus ELSE c.new_status END AS o_orderstatus,
       CASE WHEN c.key IS NULL THEN s.o_totalprice ELSE c.new_price END AS o_totalprice,
       c.key IS NOT NULL AS was_changed
FROM orders s
FULL JOIN dedup_changes c ON s.o_orderkey = c.key
WHERE COALESCE(c.op, '') <> 'D'
""",
    tags=("cdc", "join"),
    doc=(
        "MERGE/upsert: apply a delete/update/insert change set to the "
        "orders snapshot via one full outer join on the key (what MERGE "
        "compiles to on any engine; bucket the snapshot on the key at "
        "scale so only the change set shuffles)."
    ),
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    c = (
        _change_set(table(spark, sf_dir, "orders"))
        .groupBy("key")
        .agg(
            F.min("op").alias("op"),
            F.min("new_status").alias("new_status"),
            F.min("new_price").alias("new_price"),
        )
    )
    j = s.join(c, s.o_orderkey == c.key, "full_outer")
    changed = F.col("key").isNotNull()
    return j.filter(F.coalesce(F.col("op"), F.lit("")) != "D").select(
        F.coalesce(F.col("key"), F.col("o_orderkey")).alias("o_orderkey"),
        F.when(changed, F.col("new_status")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(changed, F.col("new_price")).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        changed.alias("was_changed"),
    )


@register(
    "scd2_event_history",
    oracle="""
WITH ch AS (
  SELECT user_id, ts, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_id
  FROM events
),
v AS (
  SELECT user_id, event_type, ts AS valid_from, event_id,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM ch
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from_s,
       COALESCE(strftime(valid_to, '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to_s,
       valid_to IS NULL AS is_current
FROM v
""",
    tags=("cdc", "window"),
    doc=(
        "SCD2: collapse each user's event-type runs into [valid_from, "
        "valid_to) validity intervals (lag to detect change rows, lead for "
        "the closing timestamp, NULL upper bound = current).  One shuffle "
        "on the key; this is the standard dimension-history build at any "
        "scale."
    ),
)
def scd2_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = ev.withColumn("prev_type", F.lag("event_type").over(w))
    # NOTE: the LEAD must run over the change rows only (post-filter), so
    # the validity upper bound is the NEXT CHANGE, not the next raw event.
    v = (
        ch.filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .withColumn("valid_to", F.lead("ts").over(w))
        .withColumnRenamed("ts", "valid_from")
    )
    return v.select(
        "user_id",
        "event_type",
        ts_str("valid_from").alias("valid_from_s"),
        F.coalesce(ts_str("valid_to"), F.lit("current")).alias("valid_to_s"),
        F.col("valid_to").isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# Round 11: CHANGE DATA FEED between two committed table versions — the
# read side of CDC (Delta CDF / Iceberg changelog equivalent).  MERGE
# (above) APPLIES a change set; a downstream consumer needs the inverse:
# "what changed between version N and N+1" as row-level insert/delete/
# update records, WITHOUT diffing the whole table.  The scale key is
# manifest-level pruning: two versions' manifests are compared
# DRIVER-SIDE (KBs of JSON), and only partitions whose file lists
# differ are read at either version — diff cost ∝ changed partitions,
# not table size.  The change set here touches 2 of 5 priority
# partitions, and the harness asserts the untouched 3 never enter the
# diff read.
# --------------------------------------------------------------------------


def _cdf_oracle() -> str:
    return """
WITH src AS (
  SELECT o_orderkey AS key, o_orderpriority AS prio, o_custkey AS val
  FROM orders
),
touched AS (SELECT * FROM src WHERE prio IN ('1-URGENT', '2-HIGH')),
del AS (SELECT key FROM touched WHERE key % 97 = 0),
upd AS (
  SELECT key FROM touched WHERE key % 31 = 0 AND key % 97 <> 0
),
ins AS (
  SELECT key + 10000000 AS key, prio, val + 5000000 AS val
  FROM touched WHERE key % 113 = 0
)
SELECT t.key AS o_orderkey, 'delete' AS change_type,
       t.val AS val_before, CAST(NULL AS BIGINT) AS val_after
FROM touched t JOIN del d ON d.key = t.key
UNION ALL
SELECT t.key, 'update', t.val, t.val + 1000000
FROM touched t JOIN upd u ON u.key = t.key
UNION ALL
SELECT key, 'insert', CAST(NULL AS BIGINT), val FROM ins
"""


@register(
    "acid_change_data_feed",
    oracle=_cdf_oracle(),
    tags=("acid", "cdc", "lakehouse"),
    doc=(
        "Row-level change feed between two committed ACID versions "
        "(insert/delete/update with before/after values), computed by "
        "diffing ONLY the partitions whose manifest file lists differ "
        "— 2 of 5 here, harness-asserted — then a per-key full outer "
        "join of the two pinned reads.  Oracle replays the change-set "
        "construction and the diff from the source table."
    ),
)
def acid_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import _part_values, manifest_at, read_table, replace_partitions

    src = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_custkey").alias("val"),
    )
    touched_prios = ("1-URGENT", "2-HIGH")
    tmp = tempfile.mkdtemp(prefix="cdf_")
    try:
        root = os.path.join(tmp, "orders_acid")
        replace_partitions(src, root, ["prio"], "load")
        v1 = manifest_at(root)["version"]

        t = src.filter(F.col("prio").isin(*touched_prios))
        survivors = t.filter(F.col("key") % 97 != 0).withColumn(
            "val",
            F.when(F.col("key") % 31 == 0, F.col("val") + 1000000).otherwise(
                F.col("val")
            ),
        )
        inserts = t.filter(F.col("key") % 113 == 0).select(
            (F.col("key") + 10000000).alias("key"),
            "prio",
            (F.col("val") + 5000000).alias("val"),
        )
        replace_partitions(
            survivors.unionByName(inserts), root, ["prio"], "apply-changes"
        )
        v2 = manifest_at(root)["version"]

        # MANIFEST DIFF (driver-side, KBs): partitions whose file lists
        # changed between the versions — the only ones the feed reads.
        m1, m2 = manifest_at(root, v1), manifest_at(root, v2)
        all_parts = set(m1["partitions"]) | set(m2["partitions"])
        changed = sorted(
            p for p in all_parts
            if m1["partitions"].get(p) != m2["partitions"].get(p)
        )
        changed_prios = {
            _part_values(p)["prio"]
            for p in changed
        }
        # Strict equality, not subset: a touched partition left with zero
        # surviving rows would be absent from the second replace set, keep
        # its v1 files, and silently drop its deletes — equality makes that
        # direction loud too (ADVICE r11).
        if changed_prios != set(touched_prios):
            raise RuntimeError(
                f"manifest diff selected wrong partitions: {changed_prios}"
            )

        def pinned(version):
            return read_table(
                spark,
                root,
                partition_filter=lambda kv: kv["prio"] in changed_prios,
                version=version,
            ).select(F.col("key").cast("long").alias("key"),
                     F.col("val").cast("long").alias("val"))

        before = pinned(v1).withColumnRenamed("val", "val_before")
        after = pinned(v2).withColumnRenamed("val", "val_after")
        feed = (
            before.join(after, "key", "full")
            .withColumn(
                "change_type",
                F.when(F.col("val_after").isNull(), F.lit("delete"))
                .when(F.col("val_before").isNull(), F.lit("insert"))
                .when(F.col("val_before") != F.col("val_after"), F.lit("update")),
            )
            .filter(F.col("change_type").isNotNull())
            .select(
                F.col("key").alias("o_orderkey"),
                "change_type",
                "val_before",
                "val_after",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return feed


# --------------------------------------------------------------------------
# Round 12 (VERDICT r11 #6): CLOSE THE CDC LOOP — a standing rollup
# matview maintained FROM the change data feed.  acid_change_data_feed
# proves the feed exists; this query is its consumer: the matview is
# built once from the initial snapshot, then after the change
# transaction it is updated by aggregating ONLY the feed's rows into
# per-group deltas and rewriting only the touched partitions — cost
# ∝ changed rows + touched groups, never a base-table rescan.  The
# harness asserts the incrementally-maintained matview equals a full
# recompute from the post-change snapshot, and that untouched matview
# partitions kept their data directories verbatim.
# --------------------------------------------------------------------------


def _cdf_rollup_oracle() -> str:
    return """
WITH src AS (
  SELECT o_orderkey AS key, o_orderpriority AS prio, o_custkey AS val
  FROM orders
),
touched AS (SELECT * FROM src WHERE prio IN ('1-URGENT', '2-HIGH')),
survivors AS (
  SELECT key, prio,
         CASE WHEN key % 31 = 0 THEN val + 1000000 ELSE val END AS val
  FROM touched WHERE key % 97 <> 0
),
ins AS (
  SELECT key + 10000000 AS key, prio, val + 5000000 AS val
  FROM touched WHERE key % 113 = 0
),
final AS (
  SELECT * FROM src WHERE prio NOT IN ('1-URGENT', '2-HIGH')
  UNION ALL SELECT * FROM survivors
  UNION ALL SELECT * FROM ins
),
init AS (
  SELECT prio, COUNT(*) AS n0, CAST(SUM(val) AS BIGINT) AS v0
  FROM src GROUP BY prio
),
fin AS (
  SELECT prio, COUNT(*) AS n1, CAST(SUM(val) AS BIGINT) AS v1
  FROM final GROUP BY prio
)
SELECT f.prio AS o_orderpriority,
       f.n1 AS n_orders,
       f.v1 AS val_sum,
       CAST(f.n1 - i.n0 AS BIGINT) AS d_rows,
       CAST(f.v1 - i.v0 AS BIGINT) AS d_val
FROM fin f JOIN init i ON i.prio = f.prio
"""


@register(
    "cdf_incremental_rollup",
    oracle=_cdf_rollup_oracle(),
    tags=("acid", "cdc", "lakehouse", "matview"),
    doc=(
        "CDC loop closed: a per-priority rollup matview is built from "
        "the initial ACID snapshot, the change transaction lands, and "
        "the matview is updated FROM THE CHANGE DATA FEED alone — "
        "per-group deltas aggregated from feed rows, only touched "
        "matview partitions rewritten (untouched dirs asserted "
        "verbatim), incremental result asserted equal to a full "
        "recompute.  Oracle replays the change set and both rollups."
    ),
)
def cdf_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..io.acid_table import _part_values, manifest_at, read_table, replace_partitions

    src = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_custkey").alias("val"),
    )
    touched_prios = ("1-URGENT", "2-HIGH")
    tmp = tempfile.mkdtemp(prefix="cdfmv_")
    try:
        root = os.path.join(tmp, "orders_acid")
        mv_root = os.path.join(tmp, "rollup_mv")
        replace_partitions(src, root, ["prio"], "load")
        v1 = manifest_at(root)["version"]
        # the standing matview, built ONCE from the initial snapshot
        mv1 = src.groupBy("prio").agg(
            F.count("*").alias("n_orders"), F.sum("val").alias("val_sum")
        )
        replace_partitions(mv1, mv_root, ["prio"], "matview-build")
        mv_v1 = manifest_at(mv_root)["version"]

        t = src.filter(F.col("prio").isin(*touched_prios))
        survivors = t.filter(F.col("key") % 97 != 0).withColumn(
            "val",
            F.when(F.col("key") % 31 == 0, F.col("val") + 1000000).otherwise(
                F.col("val")
            ),
        )
        inserts = t.filter(F.col("key") % 113 == 0).select(
            (F.col("key") + 10000000).alias("key"),
            "prio",
            (F.col("val") + 5000000).alias("val"),
        )
        replace_partitions(
            survivors.unionByName(inserts), root, ["prio"], "apply-changes"
        )
        v2 = manifest_at(root)["version"]

        # THE FEED (the acid_change_data_feed shape, prio carried):
        # manifest diff → changed partitions → pinned per-key diff.
        m1, m2 = manifest_at(root, v1), manifest_at(root, v2)
        all_parts = set(m1["partitions"]) | set(m2["partitions"])
        changed_prios = {
            _part_values(p)["prio"]
            for p in all_parts
            if m1["partitions"].get(p) != m2["partitions"].get(p)
        }
        if changed_prios != set(touched_prios):
            raise RuntimeError(
                f"manifest diff selected wrong partitions: {changed_prios}"
            )

        def pinned(version):
            return read_table(
                spark,
                root,
                partition_filter=lambda kv: kv["prio"] in changed_prios,
                version=version,
            ).select(
                F.col("key").cast("long").alias("key"),
                F.col("prio").cast("string").alias("prio"),
                F.col("val").cast("long").alias("val"),
            )

        before = pinned(v1).withColumnsRenamed(
            {"val": "val_before", "prio": "prio_b"}
        )
        after = pinned(v2).withColumnsRenamed(
            {"val": "val_after", "prio": "prio_a"}
        )
        feed = (
            before.join(after, "key", "full")
            .select(
                F.coalesce("prio_a", "prio_b").alias("prio"),
                "val_before",
                "val_after",
            )
            .filter(
                F.col("val_after").isNull()
                | F.col("val_before").isNull()
                | (F.col("val_before") != F.col("val_after"))
            )
        )
        # THE INCREMENT: per-group deltas from feed rows alone
        deltas = feed.groupBy("prio").agg(
            F.sum(
                F.when(F.col("val_before").isNull(), 1)
                .when(F.col("val_after").isNull(), -1)
                .otherwise(0)
            ).alias("d_rows"),
            F.sum(
                F.coalesce("val_after", F.lit(0))
                - F.coalesce("val_before", F.lit(0))
            ).alias("d_val"),
        ).localCheckpoint()
        mv_touched = (
            read_table(
                spark,
                mv_root,
                partition_filter=lambda kv: kv["prio"] in changed_prios,
            )
            .select(
                F.col("prio").cast("string").alias("prio"),
                F.col("n_orders").cast("long").alias("n_orders"),
                F.col("val_sum").cast("long").alias("val_sum"),
            )
            .join(deltas, "prio", "left")
            .select(
                "prio",
                (F.col("n_orders") + F.coalesce("d_rows", F.lit(0))).alias(
                    "n_orders"
                ),
                (F.col("val_sum") + F.coalesce("d_val", F.lit(0))).alias(
                    "val_sum"
                ),
            )
        )
        replace_partitions(mv_touched, mv_root, ["prio"], "cdf-apply")

        # GUARDS: untouched matview partitions kept their directories
        # verbatim, and the incremental state equals a full recompute.
        mv_m1 = manifest_at(mv_root, mv_v1)["partitions"]
        mv_m2 = manifest_at(mv_root)["partitions"]
        for p in mv_m1:
            prio = _part_values(p)["prio"]
            if prio not in changed_prios and mv_m1[p] != mv_m2.get(p):
                raise RuntimeError(f"untouched matview partition rewritten: {p}")
        mv_now = read_table(spark, mv_root).select(
            F.col("prio").cast("string").alias("prio"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("val_sum").cast("long").alias("val_sum"),
        )
        full = (
            read_table(spark, root, version=v2)
            .select(
                F.col("prio").cast("string").alias("prio"),
                F.col("val").cast("long").alias("val"),
            )
            .groupBy("prio")
            .agg(F.count("*").alias("n_orders"), F.sum("val").alias("val_sum"))
        )
        got = {r["prio"]: (int(r["n_orders"]), int(r["val_sum"])) for r in mv_now.collect()}
        want = {r["prio"]: (int(r["n_orders"]), int(r["val_sum"])) for r in full.collect()}
        if got != want:
            raise RuntimeError(
                f"incremental matview diverged from full recompute: "
                f"{got} != {want}"
            )
        init = {
            r["prio"]: (int(r["n_orders"]), int(r["val_sum"]))
            for r in read_table(spark, mv_root, version=mv_v1)
            .select(
                F.col("prio").cast("string").alias("prio"),
                F.col("n_orders").cast("long").alias("n_orders"),
                F.col("val_sum").cast("long").alias("val_sum"),
            )
            .collect()
        }
        out = spark.createDataFrame(
            [
                (p, n, v, n - init[p][0], v - init[p][1])
                for p, (n, v) in sorted(got.items())
            ],
            "o_orderpriority string, n_orders long, val_sum long, "
            "d_rows long, d_val long",
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
