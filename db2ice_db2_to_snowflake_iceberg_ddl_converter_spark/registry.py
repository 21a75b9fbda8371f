"""Query registry: every implemented operator exposed as a (spark, sf_dir) →
DataFrame callable, with a DuckDB oracle SQL twin for EVERY entry.

This is the single source of truth behind ``__spark_entry__.py`` — the
driver's correctness gate runs each entry against its oracle at sf0.01
(row count + schema + order-insensitive value hash). Since round 9 the
registry carries ZERO rows-only entries: operators whose core outputs are
non-SQL-expressible (LSH candidate generation, iterative float fits,
stateful streaming, binary codecs) are registered through ``_checked``
wrappers that hash-gate their exact deterministic anchors (counts,
censuses, SQL-recomputable columns) and collapse the engine-specific part
to oracle-asserted invariant booleans — while each RAW core keeps its
value-pinning pytest (numpy/pure-Python replays, recall vs brute force,
batch-stream equivalence)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import (
    analytics,
    approx,
    asof,
    cdc,
    corpus,
    dedup,
    graph,
    multimodal,
    relational as rel,
    relational_ext as rext,
    scale,
    similarity,
    textstats,
    timeseries,
)


def _catalog_queries():
    """Schema-plane surface exposed through the data plane: the DB2 fixture
    corpus parsed → schema-catalog DataFrame → assessment aggregation.

    DDL parsing is not SQL-expressible over the test tables, but the
    fixture corpus is FIXED, so each entry's full expected output is
    pinned as a literal-VALUES DuckDB oracle (round 9; the expected rows
    are derived from the reference's mapping/penalty rules, e.g.
    mapper.py:187-449 type branches and assessor.py:167-180 penalties) —
    any parser/mapper/assessor drift now turns the driver row red
    instead of hiding behind a rows-only check."""
    from .assess import Assessor
    from .catalog import assess_catalog, schema_catalog_df

    ddl = """
    CREATE TABLE TPCH.CUSTOMER (C_CUSTKEY BIGINT NOT NULL, C_NAME VARCHAR(100),
        C_NATIONKEY INTEGER, C_ACCTBAL DECIMAL(12,2), C_MKTSEGMENT CHAR(10),
        PRIMARY KEY (C_CUSTKEY));
    CREATE TABLE TPCH.EVENTS_RAW (EVENT_ID BIGINT NOT NULL, TS TIMESTAMP(9),
        PAYLOAD_XML XML, BODY BLOB(1024), COORD DECFLOAT(16))
        PARTITION BY RANGE (TS);
    DISTRIBUTE BY HASH (EVENT_ID);
    """

    def ddl_schema_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = Assessor().parser.parse(ddl)
        return schema_catalog_df(spark, tables).orderBy("table_name", "ordinal")

    def ddl_assess_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = Assessor().parser.parse(ddl)
        return assess_catalog(schema_catalog_df(spark, tables)) \
            .orderBy("table_name")

    def ddl_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .catalog import schema_catalog_df, type_distribution

        tables = Assessor().parser.parse(ddl)
        return type_distribution(schema_catalog_df(spark, tables)) \
            .orderBy("base_type")

    def migrate_customer_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The migration job's read→cast slice on real rows: parse the DB2
        DDL, build the Catalyst cast plan, apply it to the customer parquet.
        Oracle-checkable: the mapped types are plain ANSI casts. The
        DECIMAL(12,2) column is re-emitted as double after the round-trip
        (same single rounding in both engines) — the driver's pandas canon
        hash-mismatches raw Decimal columns (round-1 lesson)."""
        from pyspark.sql.types import DecimalType

        from .catalog import cast_plan

        tables = Assessor().parser.parse(ddl)
        cust = next(t for t in tables if t.name == "CUSTOMER")
        src = spark.read.parquet(f"{sf_dir}/customer.parquet")
        lower = {c.lower(): c for c in src.columns}
        renamed = src.select([src[lower[c.name.lower()]].alias(c.name)
                              for c in cust.columns])
        out = renamed.select(cast_plan(cust))
        final = [(F.col(f.name).cast("double") if isinstance(f.dataType,
                                                             DecimalType)
                  else F.col(f.name)).alias(f.name.lower())
                 for f in out.schema.fields]
        return out.select(final).orderBy("c_custkey")

    return {"ddl_schema_catalog": ddl_schema_catalog,
            "ddl_assess_catalog": ddl_assess_catalog,
            "ddl_type_distribution": ddl_type_distribution,
            "migrate_customer_cast": migrate_customer_cast}


#: Literal-catalog oracles for the ``ddl_*`` entries (round 9): the fixture
#: DDL is fixed, so the exact expected catalog rows ride the driver's hash
#: gate as VALUES literals. Expected values derive from the reference's
#: rules: CHAR→STRING compatible EWI-0001, TIMESTAMP(9)→TIMESTAMP_NTZ(6)
#: compatible EWI-0004, XML→STRING unsupported EWI-0005 (+25 penalty),
#: BLOB→BINARY compatible EWI-0020 (+2 each compatible-with-EWI), and
#: DECFLOAT(16)→DOUBLE lossy EWI-0007 (+10).
ORACLE_DDL_SCHEMA_CATALOG = """
SELECT * FROM (VALUES
  ('TPCH','CUSTOMER','C_CUSTKEY',0,'BIGINT','BIGINT','BIGINT','direct',
   NULL, FALSE, NULL, NULL, NULL, NULL, NULL, 0, 0),
  ('TPCH','CUSTOMER','C_NAME',1,'VARCHAR(100)','VARCHAR','STRING','direct',
   NULL, TRUE, NULL, NULL, NULL, NULL, NULL, 0, 0),
  ('TPCH','CUSTOMER','C_NATIONKEY',2,'INTEGER','INTEGER','INTEGER','direct',
   NULL, TRUE, NULL, NULL, NULL, NULL, NULL, 0, 0),
  ('TPCH','CUSTOMER','C_ACCTBAL',3,'DECIMAL(12,2)','DECIMAL','NUMBER(12,2)',
   'direct', NULL, TRUE, NULL, NULL, NULL, NULL, NULL, 0, 0),
  ('TPCH','CUSTOMER','C_MKTSEGMENT',4,'CHAR(10)','CHAR','STRING',
   'compatible','SSC-EWI-DB2ICE-0001', TRUE, NULL, NULL, NULL, NULL, NULL,
   0, 0),
  ('TPCH','EVENTS_RAW','EVENT_ID',0,'BIGINT','BIGINT','BIGINT','direct',
   NULL, FALSE, NULL, NULL, NULL, NULL, 'RANGE', 0, 0),
  ('TPCH','EVENTS_RAW','TS',1,'TIMESTAMP(9)','TIMESTAMP','TIMESTAMP_NTZ(6)',
   'compatible','SSC-EWI-DB2ICE-0004', TRUE, NULL, NULL, NULL, NULL,
   'RANGE', 0, 0),
  ('TPCH','EVENTS_RAW','PAYLOAD_XML',2,'XML','XML','STRING','unsupported',
   'SSC-EWI-DB2ICE-0005', TRUE, NULL, NULL, NULL, NULL, 'RANGE', 0, 0),
  ('TPCH','EVENTS_RAW','BODY',3,'BLOB(1024)','BLOB','BINARY','compatible',
   'SSC-EWI-DB2ICE-0020', TRUE, NULL, NULL, NULL, NULL, 'RANGE', 0, 0),
  ('TPCH','EVENTS_RAW','COORD',4,'DECFLOAT(16)','DECFLOAT','DOUBLE','lossy',
   'SSC-EWI-DB2ICE-0007', TRUE, NULL, NULL, NULL, NULL, 'RANGE', 0, 0)
) AS t(table_schema, table_name, column_name, ordinal, source_type,
       base_type, target_type, status, ewi_code, nullable, generated,
       fieldproc, table_editproc, table_validproc, partition_kind,
       n_foreign_keys, n_check_constraints)
ORDER BY table_name, ordinal
"""

ORACLE_DDL_ASSESS_CATALOG = """
SELECT table_schema, table_name,
       CAST(n_columns AS BIGINT) AS n_columns,
       CAST(column_penalty AS BIGINT) AS column_penalty,
       editproc_penalty, validproc_penalty, partition_penalty,
       fk_penalty, check_penalty,
       CAST(penalty_total AS BIGINT) AS penalty_total,
       CAST(readiness_score AS BIGINT) AS readiness_score,
       readiness_level, can_auto_convert
FROM (VALUES
  ('TPCH','CUSTOMER',5,2,0,0,0,0,0,2,98,'green',TRUE),
  ('TPCH','EVENTS_RAW',5,39,0,0,0,0,0,39,61,'yellow',FALSE)
) AS t(table_schema, table_name, n_columns, column_penalty,
       editproc_penalty, validproc_penalty, partition_penalty, fk_penalty,
       check_penalty, penalty_total, readiness_score, readiness_level,
       can_auto_convert)
ORDER BY table_name
"""

ORACLE_DDL_TYPE_DISTRIBUTION = """
SELECT base_type, CAST(n AS BIGINT) AS n FROM (VALUES
  ('BIGINT',2),('BLOB',1),('CHAR',1),('DECFLOAT',1),('DECIMAL',1),
  ('INTEGER',1),('TIMESTAMP',1),('VARCHAR',1),('XML',1)
) AS t(base_type, n)
ORDER BY n DESC, base_type
"""


def _streaming_queries():
    """Structured Streaming pipelines drained with Trigger.AvailableNow.
    Genuinely non-SQL-expressible as a DuckDB oracle (stateful event-time
    processing) → rows-only driver check; tests/test_streaming.py asserts
    batch/stream equivalence, which the batch twins' oracles then cover."""
    import tempfile
    import uuid

    from .streaming import events as ev

    def _drain(spark, stream, prefix, sf_dir, mode="complete"):
        # Size-derived state-partition count (r11, verdict task 3):
        # per-partition state-store fixed costs dominated these drains
        # at sf0.1 — see ev.suggest_state_partitions.
        name = f"{prefix}_{uuid.uuid4().hex[:8]}"
        with ev.drain_conf(spark, sf_dir):
            q = ev.run_available_now(
                stream, name, tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
                mode=mode)
        q.stop()
        return spark.table(name)

    def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-checkable: decimal-protocol sums make the drained rows
        arrival-order independent; timestamps formatted per the protocol."""
        out = _drain(spark, ev.hourly_rollup(
            ev.read_events_stream(spark, sf_dir)), "s_hourly",
            sf_dir=sf_dir)
        return out.select(
            F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss")
            .alias("hour_start"),
            "event_type", "n_events", "total_value")

    def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-checkable: stateless stream-static join + O(segments)
        complete-mode agg — the drain equals the batch LEFT JOIN +
        GROUP BY (decimal-protocol sums, arrival-order independent)."""
        from .operators.relational import ld as _ld

        out = _drain(spark, ev.enriched_segment_rollup(
            ev.read_events_stream(spark, sf_dir),
            _ld(spark, sf_dir, "customer")), "s_enrich", sf_dir=sf_dir)
        return out.orderBy("segment")

    def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-checkable: the lag/cumsum SQL twin reproduces
        session_window's (first event, last event + gap) boundaries."""
        out = _drain(spark, ev.session_windows(
            ev.read_events_stream(spark, sf_dir)), "s_sessions",
            sf_dir=sf_dir)
        return out.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events", "total_value")

    def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """FULL oracle since round 9: the doubled stream's copies are
        byte-identical rows, so whichever duplicate wins, the surviving
        row's CONTENT is the events row itself — the drain equals
        SELECT * FROM events exactly (protocol-formatted ts). Only the
        statement "which copy won" is arrival-order dependent; the
        emitted bytes are not."""
        name = f"s_dedup_{uuid.uuid4().hex[:8]}"
        src = ev.read_events_stream(spark, sf_dir)
        doubled = src.union(ev.read_events_stream(spark, sf_dir))
        with ev.drain_conf(spark, sf_dir):
            q = (ev.dedup_stream(doubled).writeStream.format("memory")
                 .queryName(name).outputMode("append")
                 .option("checkpointLocation",
                         tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        q.stop()
        return spark.table(name).select(
            "event_id", "user_id", "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "value")

    def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-stream watermarked interval join, drained AvailableNow.
        Unlike the windowed rollups this one IS oracle-checkable: append
        mode emits exactly the finalized inner-join matches, and draining
        the whole fixture finalizes everything (pytest pins equality with
        the batch join), so the DuckDB batch interval join is a fair twin.
        Timestamps are emitted as formatted strings per the protocol."""
        drained = _drain(spark, ev.purchase_click_interval_join(
            ev.read_events_stream(spark, sf_dir)), "s_ivjoin",
            mode="append", sf_dir=sf_dir)
        return drained.select(
            "purchase_id", "click_id", "user_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts_s"),
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("c_ts_s"))

    def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-stream LEFT OUTER interval join, drained AvailableNow.
        Unmatched purchases inside the final watermark horizon stay in
        state when the drain stops (inherent to outer streaming joins),
        so the NULL-padded row set is horizon-dependent — but the
        MATCHED rows are exactly the batch inner join. Partial-oracle
        since round 9: the census row carries n_purchases and n_matched
        on the DuckDB hash gate (batch interval-join twins), plus two
        oracle-asserted booleans — ``unmatched_subset_ok`` (no emitted
        NULL-click purchase also has a batch match: outer padding never
        fabricates a miss for a matchable purchase) and
        ``matched_pairs_unique`` (no duplicate (purchase, click)
        emission). tests/test_streaming.py still pins the full matched ≡
        inner / unmatched ⊆ anti / horizon-completeness properties on
        the raw drain."""
        from .operators.relational import load_events as _le

        from .operators.scale import pin as _pin
        drained = _pin(_drain(spark, ev.purchase_click_left_join(
            ev.read_events_stream(spark, sf_dir)), "s_lojoin",
            mode="append", sf_dir=sf_dir))                   # 3 consumers below
        e = _le(spark, sf_dir)
        p = e.filter(F.col("event_type") == "purchase") \
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("user_id").alias("p_user"),
                     F.col("ts").alias("p_ts"))
        c = e.filter(F.col("event_type") == "click") \
             .select(F.col("event_id").alias("click_id"),
                     F.col("user_id").alias("c_user"),
                     F.col("ts").alias("c_ts"))
        cond = ((F.col("p_user") == F.col("c_user"))
                & (F.col("c_ts") <= F.col("p_ts"))
                & (F.col("c_ts") >= F.col("p_ts")
                   - F.expr("INTERVAL 30 minutes")))
        inner = _pin(p.join(c, cond)
                     .select("purchase_id", "click_id"))  # 2 consumers
        n_purch = p.agg(F.count(F.lit(1)).alias("n_purchases"))
        matched = drained.filter(F.col("click_id").isNotNull())
        n_matched = matched.agg(F.count(F.lit(1)).alias("n_matched"))
        bad_unmatched = (drained.filter(F.col("click_id").isNull())
                         .select("purchase_id")
                         .join(inner.select("purchase_id").distinct(),
                               "purchase_id", "semi")
                         .agg(F.count(F.lit(1)).alias("n_bad")))
        dup_pairs = (matched.groupBy("purchase_id", "click_id")
                     .agg(F.count(F.lit(1)).alias("c"))
                     .agg(F.coalesce(
                         F.max((F.col("c") > 1).cast("int")),
                         F.lit(0)).alias("any_dup")))
        return (n_purch.crossJoin(F.broadcast(n_matched))
                .crossJoin(F.broadcast(bad_unmatched))
                .crossJoin(F.broadcast(dup_pairs))
                .select("n_purchases", "n_matched",
                        (F.col("n_bad") == 0).alias("unmatched_subset_ok"),
                        (F.col("any_dup") == 0)
                        .alias("matched_pairs_unique")))

    def streaming_zscore_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-static anomaly alerts drained AvailableNow; append mode
        emits exactly the matched rows, so the batch z-score oracle is an
        exact twin (same decimal-protocol stats arithmetic)."""
        stats = ev.event_type_stats(spark, sf_dir)
        drained = _drain(spark, ev.zscore_alerts(
            ev.read_events_stream(spark, sf_dir), stats), "s_zalerts",
            mode="append", sf_dir=sf_dir)
        return drained.orderBy("event_id")

    def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-checkable like the hourly rollup (decimal-protocol avg)."""
        out = _drain(spark, ev.sliding_rollup(
            ev.read_events_stream(spark, sf_dir)), "s_sliding",
            sf_dir=sf_dir)
        return out.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            F.date_format("window_end", "yyyy-MM-dd HH:mm:ss")
            .alias("window_end"),
            "n_events", "avg_value")

    def streaming_user_stats_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Same contract as streaming_user_stats but through the modern
        Spark 4 stateful API (``transformWithStateInPandas`` + ValueState)
        when the runtime supports it. FULL oracle since round 9: the
        emitted (user_id, n_events) final state is an exact per-user
        count — arrival order only affects the dropped float column —
        so DuckDB's GROUP BY twin hash-gates the state plumbing; the
        batch-equivalence pytest still covers whichever API path the
        environment takes."""
        from pyspark.sql import Window

        drained = _drain(spark, ev.user_running_stats_v2(
            ev.read_events_stream(spark, sf_dir)), "s_ustats2",
            mode="update", sf_dir=sf_dir)
        w = F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("n_events")))
        return (drained.withColumn("rn", w).filter(F.col("rn") == 1)
                .select("user_id", "n_events"))

    def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """applyInPandasWithState running totals, update-mode: the memory
        sink keeps every update, so take the LAST emitted row per user —
        that's the state each key ends the drain with. FULL oracle since
        round 9: the emitted (user_id, n_events) final state is an exact
        per-user count (the arrival-order-summed float total is dropped
        from the projection), so DuckDB's GROUP BY twin hash-gates the
        state plumbing; the batch-equivalence pytest still pins the float
        totals on the raw drain."""
        from pyspark.sql import Window

        drained = _drain(spark, ev.user_running_stats(
            ev.read_events_stream(spark, sf_dir)), "s_ustats",
            mode="update", sf_dir=sf_dir)
        w = F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("n_events")))
        return (drained.withColumn("rn", w).filter(F.col("rn") == 1)
                .select("user_id", "n_events"))

    def streaming_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stateful two-sided CUSUM drift alarms (online Welford
        standardization carried in the state store — deliberately NOT the
        batch entry's retrospective standardization; see
        streaming/events.py). Partial-oracle since round 9: the per-type
        event count rides the DuckDB hash gate and the alarm stream
        collapses to two oracle-asserted invariants —
        ``ordinals_valid`` (every alarm ordinal in [warmup+1, n]: the
        detector cannot alarm during its 30-observation warmup or past
        the stream) and ``stats_exceed_h`` (every alarm's statistic
        crossed the h=4 threshold). The exact alarm rows stay pinned by
        the pure-Python online-replay pytest on the raw drain."""
        from .operators.relational import load_events as _le

        drained = _drain(spark, ev.cusum_drift_alerts(
            ev.read_events_stream(spark, sf_dir)), "s_cusum",
            mode="append", sf_dir=sf_dir)
        counts = (_le(spark, sf_dir).groupBy("event_type")
                  .agg(F.count(F.lit(1)).alias("n_events")))
        per_type = (drained.groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n_alarms"),
                         F.min("ordinal").alias("min_ord"),
                         F.max("ordinal").alias("max_ord"),
                         F.min("stat").alias("min_stat")))
        return (counts.join(per_type, "event_type", "left")
                .select(
                    "event_type", "n_events",
                    F.when(F.col("n_alarms").isNull(), F.lit(True))
                    .otherwise((F.col("min_ord") >= 31)
                               & (F.col("max_ord") <= F.col("n_events")))
                    .alias("ordinals_valid"),
                    F.when(F.col("n_alarms").isNull(), F.lit(True))
                    .otherwise(F.col("min_stat") > 4.0)
                    .alias("stats_exceed_h"))
                .orderBy("event_type"))

    def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Misra-Gries heavy-hitter users per event type, maintained in
        O(k) state per key (streaming twin of the batch MG sketch).
        Sketch admission is arrival-order-dependent by construction →
        rows-only; the pytest pins the drained snapshot against a
        pure-Python MG replay and the n/(k+1) survival guarantee.

        The update-mode memory sink APPENDS each micro-batch's emitted
        counter set, so a multi-batch drain leaves stale (possibly
        since-evicted) rows from earlier snapshots in the table; keep
        only the max-``snap`` snapshot per event_type (the per-key
        ordinal the operator stamps each emission with).

        Partial-oracle since round 9 (the corpus_frequent_tokens_mg
        pattern, over USERS per type): per-type event count and
        guaranteed-heavy count (c·(k+1) > n, integer-compared) ride the
        DuckDB hash gate, and the drained counter set collapses to the
        three MG invariants as oracle-asserted booleans — support
        guarantee, never-overcount, n/(k+1) undercount bound. The exact
        counter values stay pinned by the pure-Python replay pytest on
        the raw drain."""
        from .operators.relational import load_events as _le

        k = 8
        drained = _drain(spark, ev.heavy_hitter_users(
            ev.read_events_stream(spark, sf_dir), k=k), "s_mg",
            mode="update", sf_dir=sf_dir)
        from pyspark.sql import Window
        last = F.max("snap").over(Window.partitionBy("event_type"))
        snap = (drained.withColumn("last_snap", last)
                .filter(F.col("snap") == F.col("last_snap"))
                .select("event_type", "user_id", "mg_count"))
        e = _le(spark, sf_dir)
        # the sketch cannot count a NULL user (corrupted rows drop in
        # the updater), so the guarantee census must not nominate one —
        # the oracle's guar subquery filters identically
        exact = (e.filter(F.col("user_id").isNotNull())
                 .groupBy("event_type", "user_id")
                 .agg(F.count(F.lit(1)).alias("c")))
        tot = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
        guar = (exact.join(F.broadcast(tot), "event_type")
                .filter(F.col("c") * (k + 1) > F.col("n_events"))
                .select("event_type", "user_id", "c"))
        n_guar = guar.groupBy("event_type") \
                     .agg(F.count(F.lit(1)).alias("n_guaranteed"))
        missing = (guar.join(snap, ["event_type", "user_id"], "left_anti")
                   .groupBy("event_type")
                   .agg(F.count(F.lit(1)).alias("n_missing")))
        joined = (snap.join(exact, ["event_type", "user_id"])
                  .join(F.broadcast(tot), "event_type")
                  .groupBy("event_type")
                  .agg(F.max((F.col("mg_count") > F.col("c")).cast("int"))
                       .alias("any_over"),
                       F.max(((F.col("c") - F.col("mg_count")) * (k + 1)
                              > F.col("n_events")).cast("int"))
                       .alias("any_oob")))
        return (tot
                .join(n_guar, "event_type", "left")
                .join(missing, "event_type", "left")
                .join(joined, "event_type", "left")
                .select(
                    "event_type", "n_events",
                    F.coalesce("n_guaranteed", F.lit(0))
                    .alias("n_guaranteed"),
                    (F.coalesce("n_missing", F.lit(0)) == 0)
                    .alias("all_guaranteed_present"),
                    (F.coalesce("any_over", F.lit(0)) == 0)
                    .alias("est_le_exact"),
                    (F.coalesce("any_oob", F.lit(0)) == 0)
                    .alias("undercount_in_bound"))
                .orderBy("event_type"))

    return {"streaming_interval_join": streaming_interval_join,
            "streaming_left_outer_join": streaming_left_outer_join,
            "streaming_zscore_alerts": streaming_zscore_alerts,
            "streaming_hourly_rollup": streaming_hourly_rollup,
            "streaming_session_windows": streaming_session_windows,
            "streaming_dedup": streaming_dedup,
            "streaming_sliding_rollup": streaming_sliding_rollup,
            "streaming_user_stats": streaming_user_stats,
            "streaming_user_stats_v2": streaming_user_stats_v2,
            "streaming_cusum_alerts": streaming_cusum_alerts,
            "streaming_heavy_hitters": streaming_heavy_hitters,
            "streaming_static_enrich": streaming_static_enrich}


def _streaming_p2_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw P² drain (the pre-r9 registry output, kept for the replay
    pytests): streaming P² median estimate per event type, O(1)
    five-marker state per key forever. The pytest replays the exact
    marker trajectory in pure Python and pins the estimate's accuracy
    vs the exact median. Append mode emits one
    snapshot per key per batch — keep the max-n_seen row per key (the
    streaming_user_stats snapshot-dedup contract)."""
    import tempfile
    import uuid

    from .streaming import events as ev

    name = f"s_p2_{uuid.uuid4().hex[:8]}"
    with ev.drain_conf(spark, sf_dir):
        q = ev.run_available_now(
            ev.p2_quantile_estimates(
                ev.read_events_stream(spark, sf_dir)),
            name, tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
            mode="append")
    q.stop()
    from pyspark.sql import Window
    drained = spark.table(name)
    last = F.max("n_seen").over(Window.partitionBy("event_type"))
    return (drained.withColumn("last_n", last)
            .filter(F.col("n_seen") == F.col("last_n"))
            .select("event_type", "n_seen",
                    F.round("q_estimate", 9).alias("q_estimate"))
            .orderBy("event_type"))


def _streaming_p2_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-oracle form of the P² drain (round 9): ``n_seen`` is the
    exact per-type count (hash-gated vs DuckDB), and the float estimate
    collapses to its structural marker-range invariant — the middle
    marker always lies within the observed [min, max] — as an
    oracle-asserted boolean. The exact marker trajectory stays pinned by
    the pure-Python replay pytests on :func:`_streaming_p2_final`."""
    from .operators.relational import load_events as _le

    final = _streaming_p2_final(spark, sf_dir)
    rng = (_le(spark, sf_dir).groupBy("event_type")
           .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax")))
    return (final.join(rng, "event_type")
            .select("event_type", "n_seen",
                    ((F.col("q_estimate") >= F.col("vmin"))
                     & (F.col("q_estimate") <= F.col("vmax")))
                    .alias("est_in_range"))
            .orderBy("event_type"))


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over the text-derived payloads (byte-stride fake on
    non-image payloads; the REAL BMP path is pinned in
    tests/test_operators.py::TestRealCodecs).

    FULL oracle since round 9: the fake resample is an exact integer
    function of the payload length — stride = max(1, L div 256), output
    length = min(⌈L/stride⌉, 256) — so DuckDB recomputes every emitted
    cell from octet_length(encode(text)). The mapInPandas plumbing is
    therefore hash-gated end-to-end: a broken Arrow batch shape, dropped
    row, or stride bug turns the driver row red."""
    assets = multimodal.attach_binary_payload(spark, sf_dir)
    out = multimodal.resize_assets(assets.select("doc_id", "payload"),
                                   target=(16, 16))
    return (out.select("doc_id", F.length("payload").alias("n_bytes"),
                       "width", "height").orderBy("doc_id"))


#: Streaming oracles added in round 9 — see each entry's docstring.
ORACLE_STREAMING_DEDUP = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
FROM events
"""

ORACLE_STREAMING_USER_STATS = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
"""

# n_seen mirrors the updater: it skips non-finite observations (NULL
# value arrives as NaN after sanitize_events maps non-finite/absurd to
# NULL) — the oracle must count the same finite universe (r9)
ORACLE_STREAMING_P2 = """
SELECT event_type,
       COUNT(*) FILTER (WHERE value IS NOT NULL AND NOT isnan(value)
                        AND abs(value) < 1e15) AS n_seen,
       TRUE AS est_in_range
FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE_STREAMING_CUSUM = """
SELECT event_type, COUNT(*) AS n_events,
       TRUE AS ordinals_valid, TRUE AS stats_exceed_h
FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE_STREAMING_MG = """
WITH tot AS (
  SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type),
guar AS (
  SELECT e.event_type, e.user_id, COUNT(*) AS c
  FROM events e WHERE e.user_id IS NOT NULL
  GROUP BY e.event_type, e.user_id)
SELECT t.event_type, t.n_events,
       CAST(COALESCE(SUM(CASE WHEN g.c * 9 > t.n_events
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_guaranteed,
       TRUE AS all_guaranteed_present,
       TRUE AS est_le_exact,
       TRUE AS undercount_in_bound
FROM tot t LEFT JOIN guar g ON g.event_type = t.event_type
GROUP BY t.event_type, t.n_events
ORDER BY t.event_type
"""

ORACLE_STREAMING_LOJ = """
SELECT (SELECT COUNT(*) FROM events
        WHERE event_type = 'purchase') AS n_purchases,
       (SELECT COUNT(*)
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        WHERE p.event_type = 'purchase' AND c.event_type = 'click')
         AS n_matched,
       TRUE AS unmatched_subset_ok,
       TRUE AS matched_pairs_unique
"""


ORACLE_MULTIMODAL_RESIZE = """
WITH a AS (
  SELECT doc_id, octet_length(encode(text)) AS L FROM documents
  WHERE text IS NOT NULL),
s AS (
  SELECT doc_id, L,
         GREATEST(1, GREATEST(L, 1) // 256) AS stride FROM a)
SELECT doc_id,
       CAST(LEAST((L + stride - 1) // stride, 256) AS INTEGER) AS n_bytes,
       16 AS width, 16 AS height
FROM s ORDER BY doc_id
"""


def _multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (1 row → N frame rows).

    FULL oracle since round 9: the fake demuxer is an exact integer
    function of the payload length — frames of 128 bytes, every 4th
    kept, the last frame carrying the remainder — so DuckDB regenerates
    the whole (doc_id, frame_idx, frame_bytes) fan-out from
    octet_length + generate_series. The explode-shaped mapInPandas
    (data-dependent output cardinality) is hash-gated end-to-end."""
    assets = multimodal.attach_binary_payload(spark, sf_dir)
    out = multimodal.sample_frames(assets.select("doc_id", "payload"),
                                   every_nth=4, frame_size=128)
    return (out.select("doc_id", "frame_idx",
                       F.length("frame").alias("frame_bytes"))
            .orderBy("doc_id", "frame_idx"))


ORACLE_MULTIMODAL_FRAME_SAMPLE = """
WITH a AS (
  SELECT doc_id, octet_length(encode(text)) AS L,
         (octet_length(encode(text)) + 127) // 128 AS nf
  FROM documents)
SELECT a.doc_id,
       CAST(g.i AS BIGINT) AS frame_idx,
       CAST(CASE WHEN g.i = a.nf - 1 THEN a.L - 128 * g.i
                 ELSE 128 END AS INTEGER) AS frame_bytes
FROM a, LATERAL (SELECT UNNEST(generate_series(0, a.nf - 1, 4)) AS i) g
ORDER BY a.doc_id, g.i
"""


def _multimodal_features_checked(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Partial-oracle form of the feature-extraction plumbing (round 9):
    the exact byte length rides the DuckDB hash gate, and the float
    feature norm collapses to two oracle-asserted invariants —
    ``norm_pos_iff_bytes`` (the fake decoder's buckets are byte sums, so
    a non-empty payload always has positive norm) and ``norm_in_band``
    (each of the 16 features is a mean of byte values ≤ 255, so
    norm ≤ 255·√16). Determinism/batch-shape stay pytest-pinned on the
    raw core."""
    import math

    base = multimodal.multimodal_features(spark, sf_dir)
    meta = multimodal.multimodal_metadata(spark, sf_dir) \
        .select("doc_id", "n_bytes")
    cap = 255.0 * math.sqrt(16.0) + 1e-9
    return (base.join(meta, "doc_id")
            .select("doc_id", "n_bytes",
                    ((F.col("feature_norm") > 0)
                     == (F.col("n_bytes") > 0)).alias("norm_pos_iff_bytes"),
                    ((F.col("feature_norm") >= 0)
                     & (F.col("feature_norm") <= cap)).alias("norm_in_band"))
            .orderBy("doc_id"))


ORACLE_MULTIMODAL_FEATURES = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       TRUE AS norm_pos_iff_bytes, TRUE AS norm_in_band
FROM documents WHERE text IS NOT NULL ORDER BY doc_id
"""


def _udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.tablefns import udtf_sentence_split

    return udtf_sentence_split(spark, sf_dir)


def _dedup_sentences_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.tablefns import dedup_sentences_exact

    return dedup_sentences_exact(spark, sf_dir)


def _source_pydatasource_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.pydatasource import source_pydatasource_agg

    return source_pydatasource_agg(spark, sf_dir)


def _source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.registry import source_roundtrip_formats

    return source_roundtrip_formats(spark, sf_dir)


from .sources.registry import ORACLE_SOURCE_ROUNDTRIP as _ORACLE_SOURCE_ROUNDTRIP  # noqa: E402


class _ShadowGuardDict(dict):
    """Registry accumulator that REFUSES silent shadowing: the registry is
    composed from ~20 ``update`` calls across operator modules, and a
    name collision used to overwrite quietly (it happened once, 2754aaf —
    a window entry silently replaced by a later family update). Every
    insert goes through ``__setitem__``; re-inserting an existing key
    raises at import/build time instead of shipping the wrong callable
    under a driver-checked name. Deliberate re-registration must ``pop``
    first (the existing streaming/migrate idiom) or filter ``if k not in
    q`` (the rext idiom)."""

    def __setitem__(self, key, value):
        if key in self:
            raise ValueError(
                f"registry name collision: {key!r} is already registered "
                "— rename the entry or pop the old one explicitly")
        super().__setitem__(key, value)

    def update(self, other=(), **kw):  # dict.update bypasses __setitem__
        items = other.items() if hasattr(other, "items") else other
        for k, v in items:
            self[k] = v
        for k, v in kw.items():
            self[k] = v


#: The first 50 ``queries()`` keys, in this order: the window the
#: external CORRECTNESS gate checks. Frozen; it equals the key order of
#: ``CORRECTNESS_r13.json``.
_DRIVER_WINDOW: list = [
    "corpus_curriculum_phases",
    "privacy_k_anonymity",
    "embedding_kmeans_clusters",
    "multimodal_audio_energy",
    "corpus_temperature_mixture",
    "vocab_kmv_distinct",
    "corpus_ngram_novelty",
    "udaf_trimmed_sum",
    "streaming_static_enrich",
    "multimodal_image_stats",
    "graph_kcore",
    "sql_recursive_hierarchy",
    "sink_pydatasource_roundtrip",
    "retrieval_bm25_topk",
    "diag_join_key_skew",
    "events_acf_daily",
    "events_interarrival_stats",
    "diag_blocking_pair_census",
    "corpus_token_cooccurrence",
    "forecast_seasonal_naive_eval",
    "quality_quantile_calibrate",
    "events_trigram_journeys",
    "diag_layout_zonemap",
    "assoc_cramers_v",
    "events_holt_linear",
    "revenue_gini_lorenz",
    "corpus_heaps_law",
    "events_peak_concurrency",
    "agg_weighted_percentiles",
    "benford_price_audit",
    "events_user_predictability",
    "ann_lsh_topk",
    "approx_distinct_counts",
    "case_when_bucketing",
    "dedup_clusters",
    "dedup_embedding_blocked",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "distinct_pairs",
    "events_asof_last_click",
    "filter_null_safe",
    "streaming_p2_quantile",
    "events_markov_stationary",
    "multimodal_phash_neardup",
    "diag_curve_locality",
    "kmv_set_ops",
    "embedding_triplet_margin",
    "dedup_bloom_prefilter",
    "diag_parquet_rowgroup_stats",
]


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry entry by name. The first 50 keys are
    ``_DRIVER_WINDOW``, in its order; the rest follow in registration
    order."""
    q = _ShadowGuardDict()
    # ---- CDC, time series, text and UDTF entries ----
    q.update({
        "cdc_apply_customers": cdc.cdc_apply_customers,
        "scd2_apply_customers": cdc.scd2_apply_customers,
        "profile_customer_stats": cdc.profile_customer_stats,
        "scd2_point_in_time_join": cdc.scd2_point_in_time_join,
        "events_asof_tolerance": asof.events_asof_tolerance,
        "events_gapfill_hourly": timeseries.events_gapfill_hourly,
        "events_sliding_hourly": timeseries.events_sliding_hourly,
        "sample_hash_stratified": analytics.sample_hash_stratified,
        "dedup_levenshtein_blocked": analytics.dedup_levenshtein_blocked,
        "corpus_top_tokens": corpus.corpus_top_tokens,
        "corpus_tfidf_top_terms": corpus.corpus_tfidf_top_terms,
        "unpivot_nation_metrics": rel.unpivot_nation_metrics,
        "scalar_regex_fns": rel.scalar_regex_fns,
        "scalar_variant_fns": rel.scalar_variant_fns,
        "scalar_xml_fns": rel.scalar_xml_fns,
        "agg_string_concat": rel.agg_string_concat,
        "source_pydatasource_agg": _source_pydatasource_agg,
        "udtf_sentence_split": _udtf_sentence_split,
        "dedup_sentences_exact": _dedup_sentences_exact,
    })
    sq = _streaming_queries()
    q["streaming_hourly_rollup"] = sq.pop("streaming_hourly_rollup")
    q["streaming_sliding_rollup"] = sq.pop("streaming_sliding_rollup")
    q["streaming_session_windows"] = sq.pop("streaming_session_windows")
    # registered further down, each at its own position
    ivj = sq.pop("streaming_interval_join")
    szs = sq.pop("streaming_zscore_alerts")
    us2 = sq.pop("streaming_user_stats_v2")
    loj = sq.pop("streaming_left_outer_join")
    # ---- DDL catalog, streaming and partial-oracle ANN/media/graph ----
    cq = _catalog_queries()
    mig = cq.pop("migrate_customer_cast")
    q.update(cq)                       # ddl_* ×3
    q.update(sq)                       # streaming_dedup, streaming_user_stats
    q.update({
        # partial-oracle (r9): exact brute-force pair count hash-gated +
        # recall-floor / shared-score-exactness booleans (raw cores keep
        # their recall pytests)
        "ann_ivf_topk": similarity.ann_ivf_topk_checked,
        # partial-oracle (r9): exact byte length hash-gated + norm
        # invariants; raw core keeps its determinism pytest
        "multimodal_features": _multimodal_features_checked,
        # partial-oracle (r9): exact node/edge counts hash-gated, the
        # iterative float ranks collapse to mass/floor/dominance booleans;
        # the raw (node, rank) core keeps its numpy power-iter pytest
        "graph_pagerank_top": graph.graph_pagerank_top_checked,
    })
    # ---- round-3 entries (oracle-backed) ----
    q.update(_round3_queries())
    # ---- one entry per plan family: agg, join, window, streaming, dedup,
    # corpus, text, migration ----
    q.update({
        "q1_pricing_summary": rel.q1_pricing_summary,
        "q9_product_profit": rext.QUERIES["q9_product_profit"],
        "agg_rollup": rel.agg_rollup,
        "window_ntile_scalable": scale.window_ntile_scalable,
        "streaming_interval_join": ivj,
        "dedup_ngram_jaccard_pruned": dedup.dedup_ngram_jaccard_pruned,
        "corpus_curate": corpus.corpus_curate,
        "text_quality_score": textstats.text_quality_score,
        "migrate_customer_cast": mig,
    })
    # ---- late round-3 entries ----
    from .operators import eventtime
    from .operators import traindata as _td
    from .sources.registry import (sink_compact_small_files,
                                   sink_dynamic_partition_overwrite,
                                   sink_partitioned_prune,
                                   source_schema_evolution)
    q["dedup_incremental_exact"] = _td.dedup_incremental_exact
    q["sample_per_group_topn"] = _td.sample_per_group_topn
    q["corpus_mix_weights"] = _td.corpus_mix_weights
    q["corpus_token_budget_cut"] = _td.corpus_token_budget_cut
    q["streaming_zscore_alerts"] = szs
    # Spark 4 transformWithStateInPandas twin of streaming_user_stats
    q["streaming_user_stats_v2"] = us2
    # mergeable Misra-Gries heavy-hitter sketch; partial-oracle (r9):
    # exact token total + guaranteed-heavy count hash-gated, the three
    # MG invariants as oracle-asserted booleans
    q["corpus_frequent_tokens_mg"] = approx.frequent_tokens_mg_checked
    q["customer_rfm_segments"] = analytics.customer_rfm_segments
    q["part_abc_analysis"] = analytics.part_abc_analysis
    q["orders_open_backlog_daily"] = analytics.orders_open_backlog_daily
    from .operators import behavior as _bh
    q["audience_overlap_matrix"] = _bh.audience_overlap_matrix
    q["geo_nearest_site_assignment"] = analytics.geo_nearest_site_assignment
    q["supplier_on_time_scorecard"] = analytics.supplier_on_time_scorecard
    q["events_dow_hour_profile"] = analytics.events_dow_hour_profile
    q["events_mad_outliers"] = analytics.events_mad_outliers
    from .operators import validate as _vd
    q["observe_scan_metrics"] = _vd.observe_scan_metrics
    q["orders_monthly_growth"] = analytics.orders_monthly_growth
    q["text_langid_eval"] = textstats.text_langid_eval
    q["part_pareto_frontier"] = analytics.part_pareto_frontier
    q["basket_part_affinity"] = analytics.basket_part_affinity
    q["events_locf_daily"] = timeseries.events_locf_daily
    q["events_pattern_vshape"] = eventtime.events_pattern_vshape
    q["orders_keyset_page"] = analytics.orders_keyset_page
    q["customers_adoption_curve"] = analytics.customers_adoption_curve
    q["events_activity_streaks"] = eventtime.events_activity_streaks
    q.update(eventtime.QUERIES)        # ohlc / twap / islands / 7d-actives
    q["graph_hierarchy_depths"] = graph.graph_hierarchy_depths
    q["corpus_bigram_counts"] = corpus.corpus_bigram_counts
    q["text_pii_redact"] = textstats.text_pii_redact
    q["sink_partitioned_prune"] = sink_partitioned_prune
    q["dedup_substring_spans"] = dedup.dedup_substring_spans
    q["scd2_history_from_events"] = cdc.scd2_history_from_events
    q["rollup_incremental_refresh"] = timeseries.rollup_incremental_refresh
    q["corpus_bpe_merge_pairs"] = corpus.corpus_bpe_merge_pairs
    q["events_session_attribution"] = eventtime.events_session_attribution
    q["scale_zorder_zvalues"] = scale.scale_zorder_zvalues
    q["window_running_distinct"] = analytics.window_running_distinct
    q["sink_compact_small_files"] = sink_compact_small_files
    q["source_schema_evolution"] = source_schema_evolution
    q["sink_dynamic_partition_overwrite"] = sink_dynamic_partition_overwrite
    # per-key sequential recurrence via applyInPandas; partial-oracle
    # (r9): exact n/min/max/last anchors hash-gated, EMA collapses to
    # convexity + one-step recurrence booleans (numpy pytest pins the
    # raw core's values)
    q["events_ema"] = eventtime.events_ema_checked
    # ---- the original relational, text and dedup battery ----
    q.update({k: v for k, v in rext.QUERIES.items() if k not in q})
    q.update({
        "q3_shipping_priority": rel.q3_shipping_priority,
        "q5_nation_revenue": rel.q5_nation_revenue,
        "q6_forecast_revenue": rel.q6_forecast_revenue,
        "q10_returned_items": rel.q10_returned_items,
        "q18_large_orders": rel.q18_large_orders,
        "join_inner_broadcast": rel.join_inner_broadcast,
        "events_tumbling_hourly": rel.events_tumbling_hourly,
        "events_sessionize": rel.events_sessionize,
        "events_asof_last_click": asof.events_asof_last_click,
        "text_token_stats": textstats.text_token_stats,
        "text_normalize": textstats.text_normalize,
        "text_langid": textstats.text_langid,
        "text_fingerprint": textstats.text_fingerprint,
        "multimodal_metadata": multimodal.multimodal_metadata,
        "dedup_embedding_cosine": dedup.dedup_embedding_cosine,
        # partial-oracle (r9): quantile probes + exact min/max hash-gated,
        # GK estimates collapse to their rank-window guarantee boolean
        "approx_quantiles": approx.approx_quantiles_checked,
        "corpus_token_histogram": corpus.corpus_token_histogram,
        "embedding_covariance": corpus.embedding_covariance,
        "dedup_keep_representatives": dedup.dedup_keep_representatives,
        "set_intersect_all": rel.set_intersect_all,
        "set_except_all": rel.set_except_all,
        "source_roundtrip_formats": _source_roundtrip,
        "agg_corr_regr": analytics.agg_corr_regr,
        "agg_percentiles": analytics.agg_percentiles,
        "scalar_array_fns": analytics.scalar_array_fns,
        "dedup_clusters": dedup.dedup_clusters,
        "ann_brute_force_topk": similarity.ann_brute_force_topk,
        "scan_filter_projection": rel.scan_filter_projection,
        "filter_null_safe": rel.filter_null_safe,
        "join_left_outer": rel.join_left_outer,
        "join_semi": rel.join_semi,
        "join_anti": rel.join_anti,
        "join_full_outer": rel.join_full_outer,
        "join_cross": rel.join_cross,
        "join_range_nonequi": rel.join_range_nonequi,
        "agg_distinct_counts": rel.agg_distinct_counts,
        "agg_cube": rel.agg_cube,
        "agg_grouping_sets": rel.agg_grouping_sets,
        "agg_stats": rel.agg_stats,
        "agg_pivot": rel.agg_pivot,
        "case_when_bucketing": rel.case_when_bucketing,
        "window_topk_per_group": rel.window_topk_per_group,
        "window_rank_dense": rel.window_rank_dense,
        "window_lag_lead": rel.window_lag_lead,
        "window_running_sum": rel.window_running_sum,
        "window_ntile_percent": rel.window_ntile_percent,
        "sort_limit_topk": rel.sort_limit_topk,
        "set_union_all": rel.set_union_all,
        "set_intersect": rel.set_intersect,
        "set_except": rel.set_except,
        "distinct_pairs": rel.distinct_pairs,
        "scalar_string_fns": rel.scalar_string_fns,
        "scalar_date_fns": rel.scalar_date_fns,
        "scalar_math_fns": rel.scalar_math_fns,
        "scalar_json_fns": rel.scalar_json_fns,
        "approx_distinct_counts": approx.approx_distinct_counts_checked,
        "approx_hll_union": approx.approx_hll_union_checked,
        "multimodal_resize": _multimodal_resize,
        "multimodal_frame_sample": _multimodal_frame_sample,
        "dedup_exact_docs": dedup.dedup_exact_docs,
        "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,
        # partial-oracle (r9): exact identical-text pair count hash-gated
        # + structural recall booleans; the raw pair core keeps its
        # brute-force pair-set pytest
        "dedup_minhash_lsh": dedup.dedup_minhash_lsh_checked,
        # partial-oracle (r9): exact identical-text pair count hash-gated
        # + structural recall booleans; raw pair core keeps its pytest
        "dedup_simhash": dedup.dedup_simhash_checked,
        # partial-oracle (r9): exact identical-embedding pair count
        # hash-gated + recall/range booleans; pair-set == exact-path
        # equality stays pytest-pinned
        "dedup_embedding_blocked":
            similarity.dedup_embedding_blocked_checked,
        "ann_lsh_topk": similarity.ann_lsh_topk_checked,
    })
    # ---- round-4 entries ----
    from .operators import rerank
    q["rerank_ann_shortlist"] = rerank.rerank_ann_shortlist
    q["corpus_curation_report"] = corpus.corpus_curation_report
    from .operators import traindata as _td4
    q["export_training_shards"] = _td4.export_training_shards
    q["corpus_mixture_sample"] = _td4.corpus_mixture_sample
    # iterative tokenizer training (driver-looped over the vocab table);
    # partial-oracle (r9): SQL-exact first merge + census anchors; pytest
    # still pins the full merge sequence vs a pure-Python BPE
    q["bpe_train_merges"] = corpus.bpe_train_merges_checked
    q["merge_into_customers"] = cdc.merge_into_customers
    from .streaming.events import streaming_cdc_upsert
    q["streaming_cdc_upsert"] = streaming_cdc_upsert
    q["corpus_neardup_report"] = dedup.corpus_neardup_report
    q["corpus_chunk_overlap"] = corpus.corpus_chunk_overlap
    q["corpus_doc_lm_coverage"] = corpus.corpus_doc_lm_coverage
    q["events_linear_interp_daily"] = timeseries.events_linear_interp_daily
    from .sources.registry import source_dpp_star_join
    q["source_dpp_star_join"] = source_dpp_star_join
    # tokenizer application; partial-oracle (r9): exact per-doc
    # token/char counts hash-gated + compression-bounds boolean; pytest
    # still pins per-token encodings vs a pure-Python BPE
    q["bpe_encode_stats"] = corpus.bpe_encode_stats_checked
    # k-means-scoped greedy semantic dedup; partial-oracle (r9):
    # exact cardinality + greedy-sweep invariants; pytest still pins
    # both greedy invariants vs brute force
    q["dedup_semdedup"] = dedup.dedup_semdedup_checked
    # outer streaming join: final-watermark-bounded emission → rows-only;
    # pytest pins matched ≡ inner batch join + horizon completeness
    q["streaming_left_outer_join"] = loj
    q["events_winsorize_clip"] = analytics.events_winsorize_clip
    # CM point estimates are approximate by construction → rows-only;
    # pytest pins est >= true and the 2N/width overcount bound
    q["corpus_token_countmin"] = approx.token_counts_countmin_checked
    q["embedding_standardize"] = _td4.embedding_standardize
    # ---- round-5 entries ----
    q.update(_round5_queries())
    # ---- round-6 entries ----
    q.update(_round6_queries())
    # ---- round-7 entries ----
    q.update(_round7_queries())
    missing = [k for k in _DRIVER_WINDOW if k not in q]
    assert not missing, f"window entries absent from registry: {missing}"
    in_window = set(_DRIVER_WINDOW)
    return {k: q[k] for k in
            [*_DRIVER_WINDOW, *(k for k in q if k not in in_window)]}


def _round7_queries():
    """Round-7 entries, registered after the round-6 block. A new entry
    lands past the first 50 keys; only ``_DRIVER_WINDOW`` fills those."""
    return {
        # Wilcoxon rank-sum over pooled global_ranks (tie-corrected z)
        "stat_mann_whitney_u": analytics.stat_mann_whitney_u,
        # per-nation Spearman rho on tie-averaged doubled ranks
        "stat_spearman_corr": analytics.stat_spearman_corr,
        # Mann-Kendall S / var / continuity-corrected z on monthly cents
        "stat_mann_kendall_trend": analytics.stat_mann_kendall_trend,
        # tau-b concordance census on the months-bounded series
        "stat_kendall_tau": analytics.stat_kendall_tau,
        # Spark 4.1 |> pipe-syntax program == classic-SQL oracle
        "sql_pipe_syntax_battery": rext.sql_pipe_syntax_battery,
    }


def _round6_queries():
    """Round-6 entries, registered after the round-5 block. A new entry
    lands past the first 50 keys; only ``_DRIVER_WINDOW`` fills those."""
    from .functions import tablefns as _fn6
    from .operators import analytics as _an6
    from .operators import behavior as _bh6
    from .operators import relational_ext as _re6
    from .operators import similarity as _sim6
    from .operators import validate as _va6
    from .operators import corpus as _co6
    from .operators import eventtime as _et6
    from .operators import scale as _sc6
    from .operators import timeseries as _ts6
    from .operators import traindata as _td6
    from .sources import pydatasource as _pds6
    from .operators import graph as _gr6
    from .operators import multimodal as _mm6
    from .operators import similarity as _si6
    from .operators import traindata as _td6
    from .operators import validate as _vd6

    return {
        # monthly acquisition-cohort retention triangle
        "orders_cohort_retention": analytics.orders_cohort_retention,
        # daily growth accounting: new / retained / resurrected users
        "events_user_lifecycle": analytics.events_user_lifecycle,
        # triangle census of the supplier co-part graph (self-scaling
        # relative edge threshold; oriented s1<s2 triangle join)
        "graph_triangle_stats": _gr6.QUERIES["graph_triangle_stats"],
        # per-doc lexical complexity / readability battery (pure codegen)
        "text_readability_scores": textstats.text_readability_scores,
        # unigram-LM commonness + rare-token share per doc
        "corpus_doc_commonness": _co6.corpus_doc_commonness,
        # FAISS-style IVFPQ: probe cells, ADC-score codes, exact re-rank
        # partial-oracle (r9): the shared ANN recall gate
        "ann_ivf_pq_topk": _si6.ann_ivf_pq_topk_checked,
        # directional containment pairs — the asymmetric twin of Jaccard
        "dedup_containment": dedup.dedup_containment,
        # DSIR-style importance weights: target-vs-corpus bigram mass ratio
        "corpus_dsir_importance": _co6.corpus_dsir_importance,
        # curriculum phases via global_ranks — no un-partitioned window
        "corpus_curriculum_phases": _td6.corpus_curriculum_phases,
        # k-anonymity governance audit over quasi-identifiers
        "privacy_k_anonymity": _vd6.privacy_k_anonymity,
        # distributed Lloyd over the full embedding table (MLlib shape)
        # partial-oracle (r9): census anchors + Lloyd invariants
        "embedding_kmeans_clusters":
            _si6.embedding_kmeans_clusters_checked,
        # WAV frame-RMS / silence / VAD-segment triage via mapInPandas
        # partial-oracle (r9): exact synth-shape anchors + range booleans
        "multimodal_audio_energy": _mm6.multimodal_audio_energy_checked,
        # mT5-style T=2 sampling mixture (sqrt is the one portable power)
        "corpus_temperature_mixture": _td6.corpus_temperature_mixture,
        # KMV distinct sketch per source with auditable error
        "vocab_kmv_distinct": approx.vocab_kmv_distinct_checked,
        # first-occurrence bigram novelty — the diminishing-returns curve
        "corpus_ngram_novelty": _co6.corpus_ngram_novelty,
        # pandas GROUPED_AGG UDAF — the last uncovered pandas-UDF class
        "udaf_trimmed_sum": _fn6.udaf_trimmed_sum,
        # real-BMP decode stats — image twin of the audio energy triage
        # partial-oracle (r9): exact BMP-dims anchors + byte-range booleans
        "multimodal_image_stats": _mm6.multimodal_image_stats_checked,
        # k-core peel over the shared supplier co-sourcing edge list
        # partial-oracle (r9): census node/edge counts hash-gated +
        # degree-floor/handshake/containment invariants; the raw
        # (node, core_degree) core keeps its peel-replay pytest
        "graph_kcore": _gr6.graph_kcore_checked,
        # native Spark 4 WITH RECURSIVE — engine-level recursion, the
        # O(depth) twin of the pointer-doubling hierarchy walk
        "sql_recursive_hierarchy": _gr6.QUERIES["sql_recursive_hierarchy"],
        # Python DataSource WRITE path: task-commit/manifest protocol,
        # loss-free kvlines round trip proven against the parquet oracle
        "sink_pydatasource_roundtrip": _pds6.sink_pydatasource_roundtrip,
        # query-side BM25 top-k: tf-saturation + length normalization,
        # log-free rational idf, decimal-protocol per-doc sum
        "retrieval_bm25_topk": _co6.retrieval_bm25_topk,
        # hot-key census: the diagnosis whose remediation is
        # join_salted_hot_key (same synthesized ~30% hot key)
        "diag_join_key_skew": _sc6.diag_join_key_skew,
        # sample autocorrelation of the densified daily series, lags
        # 1..7 — the lag is an equi-join on day_num + k, no ordered
        # window; seasonality shows as the lag-7 peak
        "events_acf_daily": _ts6.events_acf_daily,
        # inter-arrival burstiness profile (mean/std/CV of whole-second
        # gaps) — micro-batch sizing + rate-anomaly thresholds
        "events_interarrival_stats": _et6.events_interarrival_stats,
        # pre-flight candidate-pair forecast for a (lang, length-bucket)
        # blocked dedup self-join — prices the O(sum c^2) stage with one
        # O(blocks) aggregation
        "diag_blocking_pair_census": _sc6.diag_blocking_pair_census,
        # doc-level co-occurrence lift over the top-100 vocabulary,
        # log-free rational PMI core, broadcast-pinned vocab
        "corpus_token_cooccurrence": _co6.corpus_token_cooccurrence,
        # seasonal-naive vs naive-1 backtest (MASE ratio) on the shared
        # dense daily grid — forecast go/no-go readout
        "forecast_seasonal_naive_eval": _ts6.forecast_seasonal_naive_eval,
        # cross-source quantile normalization of the composite quality
        # score via scale.global_ranks — one bar for every source
        "quality_quantile_calibrate": _td6.quality_quantile_calibrate,
        # top three-step user journeys with exact shares — order-2
        # sequence census beyond the transition matrix
        "events_trigram_journeys": _bh6.events_trigram_journeys,
        # per-file zone-map ranges under arrival vs sorted layout —
        # the before/after evidence for "sort before write"
        "diag_layout_zonemap": _sc6.diag_layout_zonemap,
        # chi-square independence + Cramér's V on nation × segment —
        # categorical-redundancy readout before one-hot blowup
        "assoc_cramers_v": _an6.assoc_cramers_v,
        # Holt level+trend smoothing per event type; partial-oracle (r9):
        # exact dense-grid anchors hash-gated + emission-invariant
        # booleans (pure-Python replay pytest pins the raw core)
        "events_holt_linear": _et6.events_holt_linear_checked,
        # exact Gini + Lorenz deciles of customer revenue — the key-skew
        # inequality census riding scale.global_ranks
        "revenue_gini_lorenz": _an6.revenue_gini_lorenz,
        # Heaps'-law vocabulary-growth curve: new/cumulative token types
        # per document decile, exact first-appearance ordinals
        "corpus_heaps_law": _co6.corpus_heaps_law,
        # sweep-line peak concurrent sessions per day via the global
        # prefix sum — never a single-partition window
        "events_peak_concurrency": _et6.events_peak_concurrency,
        # volume-weighted global percentiles riding the global prefix
        # sum — exact ceil(q·W) rank rule, no interpolation
        "agg_weighted_percentiles": _an6.agg_weighted_percentiles,
        # Benford first-digit audit on price cents — expectations as
        # parsed double literals, no query-time log10
        "benford_price_audit": _an6.benford_price_audit,
        # per-user Gini impurity of the event-type mix — log-free
        # rational predictability census
        "events_user_predictability": _bh6.events_user_predictability,
        # ---- late round-6 entries ----
        # degree census + CCDF tail of the co-sourcing graph — the
        # hub-dominance readout that prices edge-keyed join salting
        "graph_degree_distribution": _gr6.graph_degree_distribution,
        # per-source keyness via exact add-one odds ratio — log-free
        "corpus_distinctive_terms": _co6.corpus_distinctive_terms,
        # pairwise source-centroid cosine/L2 drift in embedding space —
        # one corpus pass, catalog-sized everything after
        "embedding_source_drift": _sim6.embedding_source_drift,
        # does the ACTUAL data fit the MAPPED Iceberg type — one parsed
        # DDL drives mapping AND this audit (schema↔data plane loop)
        "migrate_type_fit_audit": _va6.migrate_type_fit_audit,
        # per-month fulfillment SLA: rank-rule p50/p95 ship lag, mean,
        # late share — one month-keyed window sort
        "orders_fulfillment_latency": _an6.orders_fulfillment_latency,
        # month-over-month revenue-delta decomposition by nation —
        # consecutive CALENDAR months via grid equi-join, never lag
        "orders_mom_contribution": _an6.orders_mom_contribution,
        # Spark 4 SQL scalar UDFs (CREATE TEMPORARY FUNCTION … RETURN
        # expr) — Catalyst-inlined, zero Python in the plan
        "sql_scalar_udf_battery": _fn6.sql_scalar_udf_battery,
        # streaming P² quantile: O(1) five-marker state per key forever;
        # floating recurrence → rows-only, exact pure-Python replay pytest
        "streaming_p2_quantile": _streaming_p2_quantile,
        # l-diversity audit — the leak k-anonymity cannot see (uniform
        # sensitive values inside a big QI group)
        "privacy_l_diversity": _va6.privacy_l_diversity,
        # NOT IN vs NOT EXISTS vs ANTI JOIN three-valued-logic battery
        # over a NULL-poisoned key set — migration regression canary
        "scalar_null_semantics": _re6.scalar_null_semantics,
        # stationary distribution of the journey Markov chain (power
        # iteration on the types²-bounded matrix) — rows-only + numpy
        # partial-oracle (r9): observed_share exact + unit/identity/sum
        # invariants; numpy eigenvector pytest pins the raw core
        "events_markov_stationary": _bh6.events_markov_stationary_checked,
        # id sequence-gap audit with NO global window: bucketed lead +
        # algebraic cross-bucket remainder (span − count)
        "events_id_gap_audit": _et6.events_id_gap_audit,
        # DCT perceptual-hash image near-dup over the REAL BMP codec —
        # banded 16-bit candidate join + codegen bit_count verify
        "multimodal_phash_neardup": _mm6.multimodal_phash_neardup_checked,
        # two-sided delta-join view maintenance: ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
        # merged by re-agg; the full-recompute oracle proves the algebra
        "ivm_join_view_delta": cdc.ivm_join_view_delta,
        # lexicographic vs Z-order vs Hilbert write layouts, scored by
        # expected files touched per predicate — Hilbert no SQL twin →
        # rows-only, pure-Python d(x,y) replay pytest
        # partial-oracle (r9): layout/file-count literals + geometric
        # bbox invariants; Hilbert replay pytest pins the raw core
        "diag_curve_locality": _sc6.diag_curve_locality_checked,
        # KMV/theta set algebra: union AND intersection estimates from
        # two mergeable sketches (HLL cannot intersect) — rows-only
        "kmv_set_ops": approx.kmv_set_ops_checked,
        # exact median + distribution-free binomial-rank 95% CI riding
        # global_ranks ordinal joins
        "agg_median_ci": _an6.agg_median_ci,
        # 2×2 session census: error × conversion with risk ratio,
        # add-one odds ratio, and the closed-form 2×2 chi²
        "events_error_conversion": _bh6.events_error_conversion,
        # per-label triplet margin (nearest friend − nearest impostor
        # cosine) — embedding-quality audit; float chains → rows-only
        # partial-oracle (r9): per-label anchor census exact + range
        # invariants; numpy replay pytest pins the raw core
        "embedding_triplet_margin": _sim6.embedding_triplet_margin_checked,
        # Theil–Sen vs OLS revenue trend — median of months²-bounded
        # pairwise slopes beside the outlier-sensitive line
        "orders_theilsen_trend": _an6.orders_theilsen_trend,
        # STL-lite: variance explained by the day-of-week MEDIAN profile
        # — decides seasonal-naive vs naive-1 as the forecast baseline
        "events_weekly_seasonality_strength":
            _et6.events_weekly_seasonality_strength,
        # cumulative LTV curve per acquisition cohort — the money twin
        # of the retention triangle
        "orders_cohort_ltv": _an6.orders_cohort_ltv,
        # linear multi-touch attribution over a 7-day lookback — credit
        # conservation: Σcredit = attributed purchases
        "events_multitouch_attribution":
            _bh6.events_multitouch_attribution,
        # relational Bloom prefilter for ingest dedup: k seeded probes,
        # filter = distinct bit-position table; no-FN guarantee pinned
        "dedup_bloom_prefilter": dedup.dedup_bloom_prefilter_checked,
        # exact Σc² self-join size forecast from the O(keys) census —
        # prices the quadratic blowup before paying it
        "diag_join_size_forecast": _sc6.diag_join_size_forecast,
        # Spark 4 polymorphic UDTF: TABLE(...) PARTITION BY/ORDER BY
        # argument routing — same oracle as events_sessionize
        "udtf_table_arg_sessionize": _fn6.udtf_table_arg_sessionize,
        # real parquet row-group zone maps from the file footers —
        # pyarrow stat typing has no stable DuckDB twin → rows-only,
        # pytest cross-checks duckdb parquet_metadata()
        # partial-oracle (r9): footer totals vs the table itself
        "diag_parquet_rowgroup_stats":
            _sc6.diag_parquet_rowgroup_stats_checked,
    }


def _round5_queries():
    """Round-5 entries, registered after the round-4 block. A new entry
    lands past the first 50 keys; only ``_DRIVER_WINDOW`` fills those."""
    from .operators import corpus, similarity
    from .operators import dedup as _dd5
    from .operators import eventtime as _ev5
    from .operators import validate as _vl5
    from .operators import scale as _sc5
    from .operators import traindata as _td5
    from .sources.registry import source_bloom_runtime_filter as _bloom_rt

    return {
        # end-to-end curation: gates ∘ dedup ∘ mixture ∘ chunk ∘ shard
        # manifest in ONE job (r4 verdict item 9) — proves the standalone
        # stages compose without a driver round-trip between them
        "corpus_build_pipeline": corpus.corpus_build_pipeline,
        # benchmark n-gram decontamination (broadcast eval-gram probe)
        "corpus_decontaminate": corpus.corpus_decontaminate,
        # Gopher-style rule-based quality pre-filter (pure scan pass)
        "corpus_gopher_rules": corpus.corpus_gopher_rules,
        # product-quantization encode (float k-means codebooks →
        # rows-only; codes + errors pinned vs numpy in pytest)
        # partial-oracle (r9): vec_id set exact + code/error range booleans
        "ann_pq_encode": similarity.ann_pq_encode_checked,
        # global-stream concat-and-chunk packing manifest riding the
        # scalable prefix scan (no single-partition window)
        "corpus_pack_global_stream": _td5.corpus_pack_global_stream,
        # runtime bloom-filter join (row-level complement to DPP)
        "source_bloom_runtime_filter": _bloom_rt,
        # exact equi-depth histogram on the scalable global rank
        "agg_histogram_equi_depth": _sc5.agg_histogram_equi_depth,
        # CUSUM change-point monitor (max-clamp recurrence → grouped
        # applyInPandas like events_ema); partial-oracle (r9): per-type
        # counts hash-gated + peak/first-alarm consistency booleans
        # (numpy-loop pytests still pin the raw core's alarm values)
        "events_cusum_drift": _ev5.events_cusum_drift_checked,
        # incremental batch-vs-corpus near-dup via the shared LSH bands;
        # partial-oracle (r9): exact batch/verbatim-dup counts hash-gated
        # + structural recall booleans (pytest still pins the flagged set
        # vs brute-force Jaccard on the raw core)
        "dedup_incremental_minhash": _dd5.dedup_incremental_minhash_checked,
        # right-to-be-forgotten cascade impact plan (FK-driven semi/anti
        # joins + zero-orphan audit)
        "gdpr_delete_cascade": _vl5.gdpr_delete_cascade,
        # snapshot-over-snapshot language drift (exact chi-square — no
        # log, so bitwise-portable unlike KL)
        "corpus_lang_drift_chi2": corpus.corpus_lang_drift_chi2,
        # feature-hashed linear quality classifier (fastText scale shape:
        # broadcast weight dim + one integer-weighted hash agg per doc)
        "classifier_quality_linear": textstats.classifier_quality_linear,
        # decile gains/lift calibration of that score vs the lang gold
        # label, riding scale.global_ranks (no single-partition window)
        "classifier_gains_deciles": textstats.classifier_gains_deciles,
        # exact two-sample KS length-drift per source on the compacted
        # (source, n_chars) frame — numeric twin of the chi2 lang drift
        "corpus_source_ks_drift": corpus.corpus_source_ks_drift,
        # near-dup-cluster-aware train/val/test split: docs inherit their
        # cluster representative's split, closing the paraphrase-leakage
        # channel a per-doc content-hash split leaves open
        "split_leakage_safe": _td5.split_leakage_safe,
        # pairwise source-level trigram Jaccard/containment matrix on the
        # distinct (source, gram) compaction — the redundancy map mixture
        # weighting consults (source-level twin of dedup_ngram_jaccard)
        "corpus_source_similarity": corpus.corpus_source_similarity,
        # top-k PCA projection: per-partition sufficient-stat partials →
        # driver d×d eigh (bounded-collect contract) → broadcast-matmul
        # Arrow projection; eigendecomposition is iterative float math →
        # rows-only, pytest-pinned vs full-batch numpy PCA
        # partial-oracle (r9): vec_id set exact + in-plan Bessel gate;
        # numpy PCA pytest pins the raw core
        "embedding_pca_project": similarity.embedding_pca_project_checked,
    }


def _round3_queries():
    """Round-3 entries, registered after the DDL catalog and streaming
    block."""
    from .operators import behavior, traindata, validate

    q = {}
    q.update(behavior.QUERIES)
    q.update(traindata.QUERIES)
    # build_queries registers these four later, with the late round-3
    # entries
    del q["dedup_incremental_exact"], q["sample_per_group_topn"]
    del q["corpus_mix_weights"], q["corpus_token_budget_cut"]
    q.update(validate.QUERIES)
    # PQ/ADC ANN: approximate by construction → rows-only driver check;
    # recall-vs-brute-force pinned in tests/test_behavior.py
    # partial-oracle (r9): the shared ANN recall gate
    q["ann_pq_topk"] = similarity.ann_pq_topk_checked
    q.update({
        "text_gopher_filters": textstats.text_gopher_filters,
        "text_repetition_metrics": textstats.text_repetition_metrics,
        "agg_histogram_equi_width": analytics.agg_histogram_equi_width,
        "join_salted_hot_key": scale.join_salted_hot_key,
    })
    return q


def build_oracles() -> dict[str, str]:
    from .operators import behavior, eventtime, graph, traindata, validate
    from .operators import multimodal as _mm6
    from .sources.registry import (ORACLE_SCHEMA_EVOLUTION,
                                   ORACLE_SINK_COMPACT,
                                   ORACLE_SINK_DYNPART,
                                   ORACLE_SINK_PARTITIONED)

    oracles = dict(rext.ORACLES)
    oracles.update(eventtime.ORACLES)
    oracles["graph_hierarchy_depths"] = graph.ORACLE_HIERARCHY_DEPTHS
    # partial-oracle (r9): exact graph census + invariant booleans
    oracles["graph_pagerank_top"] = graph.ORACLE_PAGERANK_CHECKED
    oracles["corpus_bigram_counts"] = corpus.ORACLE_BIGRAM_COUNTS
    oracles["text_pii_redact"] = textstats.ORACLE_TEXT_PII
    oracles["sink_partitioned_prune"] = ORACLE_SINK_PARTITIONED
    oracles["dedup_substring_spans"] = dedup.ORACLE_DEDUP_SUBSTRING
    oracles["scd2_history_from_events"] = cdc.ORACLE_SCD2_FROM_EVENTS
    oracles["rollup_incremental_refresh"] = timeseries.ORACLE_ROLLUP_REFRESH
    oracles["corpus_bpe_merge_pairs"] = corpus.ORACLE_BPE_MERGE_PAIRS
    oracles["events_session_attribution"] = \
        eventtime.ORACLE_SESSION_ATTRIBUTION
    oracles["scale_zorder_zvalues"] = scale.ORACLE_ZORDER
    oracles["window_running_distinct"] = \
        analytics.ORACLE_WINDOW_RUNNING_DISTINCT
    oracles["customer_rfm_segments"] = analytics.ORACLE_CUSTOMER_RFM
    oracles["part_abc_analysis"] = analytics.ORACLE_PART_ABC
    oracles["orders_open_backlog_daily"] = analytics.ORACLE_ORDERS_BACKLOG
    oracles["audience_overlap_matrix"] = behavior.ORACLE_AUDIENCE_OVERLAP
    oracles["geo_nearest_site_assignment"] = analytics.ORACLE_GEO_NEAREST
    oracles["supplier_on_time_scorecard"] = \
        analytics.ORACLE_SUPPLIER_SCORECARD
    oracles["events_dow_hour_profile"] = analytics.ORACLE_EVENTS_DOW_HOUR
    oracles["events_mad_outliers"] = analytics.ORACLE_EVENTS_MAD
    oracles["observe_scan_metrics"] = validate.ORACLE_OBSERVE_METRICS
    oracles["orders_monthly_growth"] = \
        analytics.ORACLE_ORDERS_MONTHLY_GROWTH
    oracles["text_langid_eval"] = textstats.ORACLE_TEXT_LANGID_EVAL
    oracles["part_pareto_frontier"] = analytics.ORACLE_PART_PARETO
    oracles["basket_part_affinity"] = analytics.ORACLE_BASKET_AFFINITY
    oracles["events_locf_daily"] = timeseries.ORACLE_EVENTS_LOCF
    oracles["events_pattern_vshape"] = eventtime.ORACLE_PATTERN_VSHAPE
    oracles["orders_keyset_page"] = analytics.ORACLE_ORDERS_KEYSET
    oracles["customers_adoption_curve"] = \
        analytics.ORACLE_CUSTOMERS_ADOPTION
    oracles["events_activity_streaks"] = \
        eventtime.ORACLE_ACTIVITY_STREAKS
    oracles["sink_compact_small_files"] = ORACLE_SINK_COMPACT
    oracles["source_schema_evolution"] = ORACLE_SCHEMA_EVOLUTION
    oracles["sink_dynamic_partition_overwrite"] = ORACLE_SINK_DYNPART
    oracles.update(analytics.ORACLES)
    oracles.update(timeseries.ORACLES)
    oracles.update(behavior.ORACLES)
    oracles.update(traindata.ORACLES)
    oracles.update(validate.ORACLES)
    oracles["text_gopher_filters"] = textstats.ORACLE_TEXT_GOPHER
    oracles["text_repetition_metrics"] = textstats.ORACLE_TEXT_REPETITION
    oracles["agg_histogram_equi_width"] = analytics.ORACLE_AGG_HISTOGRAM
    oracles["join_salted_hot_key"] = scale.ORACLE_JOIN_SALTED_HOT
    # ---- round-8 partial-oracle upgrades: former rows-only sketch
    # entries whose exact deterministic columns now ride the hash gate
    # (estimates collapse to in-band booleans the oracle asserts TRUE;
    # the raw-estimate cores keep their bound pytests) ----
    oracles["approx_distinct_counts"] = \
        approx.ORACLE_APPROX_DISTINCT_CHECKED
    oracles["approx_hll_union"] = approx.ORACLE_APPROX_HLL_UNION_CHECKED
    oracles["vocab_kmv_distinct"] = approx.ORACLE_VOCAB_KMV_CHECKED
    oracles["kmv_set_ops"] = approx.ORACLE_KMV_SET_OPS_CHECKED
    oracles["corpus_token_countmin"] = approx.ORACLE_COUNTMIN_CHECKED
    oracles["dedup_bloom_prefilter"] = \
        dedup.ORACLE_BLOOM_PREFILTER_CHECKED
    oracles["multimodal_phash_neardup"] = \
        _mm6.ORACLE_PHASH_NEARDUP_CHECKED
    # ---- round-9 partial-oracle upgrades (same pattern; the
    # graph_pagerank_top oracle registers beside the graph family above)
    oracles["dedup_simhash"] = dedup.ORACLE_SIMHASH_CHECKED
    oracles["dedup_incremental_minhash"] = \
        dedup.ORACLE_INCREMENTAL_MINHASH_CHECKED
    oracles["approx_quantiles"] = approx.ORACLE_APPROX_QUANTILES_CHECKED
    oracles["events_ema"] = eventtime.ORACLE_EVENTS_EMA_CHECKED
    oracles["events_holt_linear"] = eventtime.ORACLE_EVENTS_HOLT_CHECKED
    oracles["dedup_minhash_lsh"] = dedup.ORACLE_MINHASH_LSH_CHECKED
    oracles["corpus_frequent_tokens_mg"] = \
        approx.ORACLE_FREQUENT_TOKENS_MG_CHECKED
    oracles["graph_kcore"] = graph.ORACLE_KCORE_CHECKED
    oracles["events_cusum_drift"] = eventtime.ORACLE_EVENTS_CUSUM_CHECKED
    oracles["multimodal_resize"] = ORACLE_MULTIMODAL_RESIZE
    oracles["multimodal_frame_sample"] = ORACLE_MULTIMODAL_FRAME_SAMPLE
    oracles["multimodal_features"] = ORACLE_MULTIMODAL_FEATURES
    # streaming entries gated in round 9 (exact anchors + invariant
    # booleans; see each _streaming_queries closure's docstring)
    oracles["streaming_dedup"] = ORACLE_STREAMING_DEDUP
    oracles["streaming_user_stats"] = ORACLE_STREAMING_USER_STATS
    oracles["streaming_user_stats_v2"] = ORACLE_STREAMING_USER_STATS
    oracles["streaming_p2_quantile"] = ORACLE_STREAMING_P2
    oracles["streaming_cusum_alerts"] = ORACLE_STREAMING_CUSUM
    oracles["streaming_heavy_hitters"] = ORACLE_STREAMING_MG
    oracles["streaming_left_outer_join"] = ORACLE_STREAMING_LOJ
    oracles["events_markov_stationary"] = \
        behavior.ORACLE_MARKOV_STATIONARY_CHECKED
    oracles["embedding_pca_project"] = \
        similarity.ORACLE_PCA_PROJECT_CHECKED
    oracles["embedding_triplet_margin"] = \
        similarity.ORACLE_TRIPLET_MARGIN_CHECKED
    oracles["diag_curve_locality"] = scale.ORACLE_CURVE_LOCALITY_CHECKED
    for _ann in ("ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
                 "ann_ivf_pq_topk"):
        oracles[_ann] = similarity.ORACLE_ANN_RECALL_GATE
    # the final nine (r9): every registry entry now carries an oracle
    oracles["bpe_train_merges"] = corpus.ORACLE_BPE_TRAIN_CHECKED
    oracles["bpe_encode_stats"] = corpus.ORACLE_BPE_ENCODE_CHECKED
    oracles["dedup_semdedup"] = dedup.ORACLE_SEMDEDUP_CHECKED
    oracles["dedup_embedding_blocked"] = \
        similarity.ORACLE_EMBEDDING_BLOCKED_CHECKED
    oracles["ann_pq_encode"] = similarity.ORACLE_PQ_ENCODE_CHECKED
    oracles["embedding_kmeans_clusters"] = similarity.ORACLE_KMEANS_CHECKED
    oracles["multimodal_audio_energy"] = \
        _mm6.ORACLE_AUDIO_ENERGY_CHECKED
    oracles["multimodal_image_stats"] = _mm6.ORACLE_IMAGE_STATS_CHECKED
    oracles["diag_parquet_rowgroup_stats"] = \
        scale.ORACLE_ROWGROUP_STATS_CHECKED
    oracles["corpus_top_tokens"] = corpus.ORACLE_TOP_TOKENS
    oracles["corpus_tfidf_top_terms"] = corpus.ORACLE_TFIDF_TOP_TERMS
    oracles["events_asof_tolerance"] = asof.ORACLE_EVENTS_ASOF_TOLERANCE
    oracles["unpivot_nation_metrics"] = rel.ORACLE_UNPIVOT
    oracles["scalar_regex_fns"] = rel.ORACLE_SCALAR_REGEX
    oracles["scalar_variant_fns"] = rel.ORACLE_SCALAR_VARIANT
    from .sources.pydatasource import ORACLE_PYDATASOURCE
    oracles["source_pydatasource_agg"] = ORACLE_PYDATASOURCE
    from .functions.tablefns import ORACLE_UDTF_SENTENCES
    oracles["udtf_sentence_split"] = ORACLE_UDTF_SENTENCES
    from .functions.tablefns import ORACLE_DEDUP_SENTENCES
    oracles["dedup_sentences_exact"] = ORACLE_DEDUP_SENTENCES
    oracles["agg_string_concat"] = rel.ORACLE_AGG_STRING_CONCAT
    oracles["scalar_xml_fns"] = rel.ORACLE_SCALAR_XML
    oracles["cdc_apply_customers"] = cdc.ORACLE_CDC_APPLY
    oracles["scd2_apply_customers"] = cdc.ORACLE_SCD2_APPLY
    oracles["profile_customer_stats"] = cdc.ORACLE_PROFILE_CUSTOMER
    oracles["scd2_point_in_time_join"] = cdc.ORACLE_SCD2_PIT
    from .streaming import events as _ev
    oracles["streaming_hourly_rollup"] = _ev.ORACLE_STREAMING_HOURLY
    oracles["streaming_sliding_rollup"] = _ev.ORACLE_STREAMING_SLIDING
    oracles["streaming_session_windows"] = _ev.ORACLE_STREAMING_SESSIONS
    # stream-static alerts drain to exactly the batch z-score rows
    oracles["streaming_zscore_alerts"] = behavior.ORACLE_ZSCORE
    oracles.update({
        "q1_pricing_summary": rel.ORACLE_Q1,
        "q3_shipping_priority": rel.ORACLE_Q3,
        "q5_nation_revenue": rel.ORACLE_Q5,
        "q6_forecast_revenue": rel.ORACLE_Q6,
        "q10_returned_items": rel.ORACLE_Q10,
        "q18_large_orders": rel.ORACLE_Q18,
        "scan_filter_projection": rel.ORACLE_SCAN,
        "filter_null_safe": rel.ORACLE_FILTER_NULLSAFE,
        "join_inner_broadcast": rel.ORACLE_JOIN_INNER,
        "join_left_outer": rel.ORACLE_JOIN_LEFT,
        "join_semi": rel.ORACLE_JOIN_SEMI,
        "join_anti": rel.ORACLE_JOIN_ANTI,
        "join_full_outer": rel.ORACLE_JOIN_FULL,
        "join_cross": rel.ORACLE_JOIN_CROSS,
        "join_range_nonequi": rel.ORACLE_JOIN_RANGE,
        "agg_distinct_counts": rel.ORACLE_AGG_DISTINCT,
        "agg_rollup": rel.ORACLE_AGG_ROLLUP,
        "agg_cube": rel.ORACLE_AGG_CUBE,
        "agg_grouping_sets": rel.ORACLE_AGG_GROUPING_SETS,
        "agg_stats": rel.ORACLE_AGG_STATS,
        "agg_pivot": rel.ORACLE_AGG_PIVOT,
        "case_when_bucketing": rel.ORACLE_CASE_WHEN,
        "window_topk_per_group": rel.ORACLE_WINDOW_TOPK,
        "window_rank_dense": rel.ORACLE_WINDOW_RANK,
        "window_lag_lead": rel.ORACLE_WINDOW_LAG,
        "window_running_sum": rel.ORACLE_WINDOW_RUNNING,
        "window_ntile_percent": rel.ORACLE_WINDOW_NTILE_BOUNDED,
        "window_ntile_scalable": rel.ORACLE_WINDOW_NTILE,
        "corpus_token_histogram": corpus.ORACLE_TOKEN_HISTOGRAM,
        "corpus_curate": corpus.ORACLE_CORPUS_CURATE,
        "set_intersect_all": rel.ORACLE_SET_INTERSECT_ALL,
        "dedup_ngram_jaccard_pruned": dedup.ORACLE_DEDUP_NGRAM_PRUNED,
        "set_except_all": rel.ORACLE_SET_EXCEPT_ALL,
        "source_roundtrip_formats": _ORACLE_SOURCE_ROUNDTRIP,
        "embedding_covariance": corpus.ORACLE_EMBEDDING_COVARIANCE,
        "dedup_keep_representatives": dedup.ORACLE_DEDUP_KEEP_REPRESENTATIVES,
        "streaming_interval_join": rel.ORACLE_STREAMING_INTERVAL_JOIN,
        "sort_limit_topk": rel.ORACLE_SORT_TOPK,
        "set_union_all": rel.ORACLE_SET_UNION,
        "set_intersect": rel.ORACLE_SET_INTERSECT,
        "set_except": rel.ORACLE_SET_EXCEPT,
        "distinct_pairs": rel.ORACLE_DISTINCT,
        "scalar_string_fns": rel.ORACLE_SCALAR_STRING,
        "scalar_date_fns": rel.ORACLE_SCALAR_DATE,
        "scalar_math_fns": rel.ORACLE_SCALAR_MATH,
        "scalar_json_fns": rel.ORACLE_SCALAR_JSON,
        "events_tumbling_hourly": rel.ORACLE_EVENTS_HOURLY,
        "events_sessionize": rel.ORACLE_EVENTS_SESSIONIZE,
        "dedup_exact_docs": dedup.ORACLE_DEDUP_EXACT,
        "dedup_ngram_jaccard": dedup.ORACLE_DEDUP_NGRAM,
        "dedup_embedding_cosine": dedup.ORACLE_DEDUP_EMBEDDING,
        "dedup_clusters": dedup.ORACLE_DEDUP_CLUSTERS,
        "ann_brute_force_topk": similarity.ORACLE_ANN_BRUTE,
        "events_asof_last_click": asof.ORACLE_EVENTS_ASOF,
        # migration read→cast slice: DDL types CUSTOMER as (BIGINT,
        # VARCHAR, INTEGER, DECIMAL(12,2), CHAR); correctly-rounded
        # double→decimal conversion matches across engines
        "migrate_customer_cast": """
            SELECT c_custkey, c_name, c_nationkey,
                   CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)
                     AS c_acctbal,
                   c_mktsegment
            FROM customer ORDER BY c_custkey
        """,
        "text_normalize": textstats.ORACLE_TEXT_NORMALIZE,
        "text_token_stats": textstats.ORACLE_TEXT_TOKENS,
        "text_quality_score": textstats.ORACLE_TEXT_QUALITY,
        "text_langid": textstats.ORACLE_TEXT_LANGID,
        "text_fingerprint": textstats.ORACLE_TEXT_FINGERPRINT,
        "multimodal_metadata": multimodal.ORACLE_MULTIMODAL_META,
        # ddl_* catalog entries: fixed fixture corpus → the full expected
        # output is a literal-VALUES oracle (round 9)
        "ddl_schema_catalog": ORACLE_DDL_SCHEMA_CATALOG,
        "ddl_assess_catalog": ORACLE_DDL_ASSESS_CATALOG,
        "ddl_type_distribution": ORACLE_DDL_TYPE_DISTRIBUTION,
        # (historical note: until round 9 this block listed the
        # rows-only entries; all of them now carry oracles via their
        # _checked wrappers — see build_oracles' round-9 section)
    })
    # ---- new round-4 entries ----
    from .operators import rerank
    oracles["rerank_ann_shortlist"] = rerank.ORACLE_RERANK_ANN
    oracles["corpus_curation_report"] = corpus.ORACLE_CURATION_REPORT
    oracles["export_training_shards"] = traindata.ORACLE_EXPORT_SHARDS
    oracles["corpus_mixture_sample"] = traindata.ORACLE_MIXTURE_SAMPLE
    oracles["merge_into_customers"] = cdc.ORACLE_MERGE_INTO
    oracles["streaming_cdc_upsert"] = _ev.ORACLE_STREAMING_CDC_UPSERT
    oracles["corpus_neardup_report"] = dedup.ORACLE_NEARDUP_REPORT
    oracles["corpus_chunk_overlap"] = corpus.ORACLE_CHUNK_OVERLAP
    oracles["corpus_doc_lm_coverage"] = corpus.ORACLE_DOC_LM_COVERAGE
    oracles["events_linear_interp_daily"] = \
        timeseries.ORACLE_EVENTS_LINEAR_INTERP
    from .sources.registry import ORACLE_DPP_STAR_JOIN
    oracles["source_dpp_star_join"] = ORACLE_DPP_STAR_JOIN
    oracles["events_winsorize_clip"] = analytics.ORACLE_EVENTS_WINSORIZE
    oracles["embedding_standardize"] = traindata.ORACLE_EMBEDDING_STANDARDIZE
    # ---- new round-5 entries ----
    oracles["corpus_build_pipeline"] = corpus.ORACLE_BUILD_PIPELINE
    oracles["corpus_decontaminate"] = corpus.ORACLE_DECONTAMINATE
    oracles["corpus_gopher_rules"] = corpus.ORACLE_GOPHER_RULES
    oracles["corpus_pack_global_stream"] = \
        traindata.ORACLE_PACK_GLOBAL_STREAM
    from .sources.registry import ORACLE_BLOOM_RUNTIME_FILTER
    oracles["source_bloom_runtime_filter"] = ORACLE_BLOOM_RUNTIME_FILTER
    from .operators.scale import ORACLE_HISTOGRAM_EQUI_DEPTH
    oracles["agg_histogram_equi_depth"] = ORACLE_HISTOGRAM_EQUI_DEPTH
    from .operators.validate import ORACLE_GDPR_CASCADE
    oracles["gdpr_delete_cascade"] = ORACLE_GDPR_CASCADE
    oracles["corpus_lang_drift_chi2"] = corpus.ORACLE_LANG_DRIFT_CHI2
    oracles["classifier_quality_linear"] = textstats.ORACLE_CLASSIFIER_QUALITY
    oracles["classifier_gains_deciles"] = textstats.ORACLE_CLASSIFIER_GAINS
    oracles["corpus_source_ks_drift"] = corpus.ORACLE_SOURCE_KS_DRIFT
    from .operators.traindata import ORACLE_SPLIT_LEAKAGE_SAFE
    oracles["split_leakage_safe"] = ORACLE_SPLIT_LEAKAGE_SAFE
    oracles["corpus_source_similarity"] = corpus.ORACLE_SOURCE_SIMILARITY
    # ---- new round-6 entries (ann_ivf_pq_topk is rows-only) ----
    oracles["orders_cohort_retention"] = \
        analytics.ORACLE_ORDERS_COHORT_RETENTION
    oracles["events_user_lifecycle"] = analytics.ORACLE_EVENTS_USER_LIFECYCLE
    from .operators.graph import ORACLE_TRIANGLE_STATS
    oracles["graph_triangle_stats"] = ORACLE_TRIANGLE_STATS
    oracles["text_readability_scores"] = textstats.ORACLE_TEXT_READABILITY
    oracles["corpus_doc_commonness"] = corpus.ORACLE_DOC_COMMONNESS
    from .operators.dedup import ORACLE_DEDUP_CONTAINMENT
    oracles["dedup_containment"] = ORACLE_DEDUP_CONTAINMENT
    oracles["corpus_dsir_importance"] = corpus.ORACLE_DSIR_IMPORTANCE
    from .operators.traindata import (
        ORACLE_CURRICULUM_PHASES,
        ORACLE_TEMPERATURE_MIXTURE,
    )
    oracles["corpus_curriculum_phases"] = ORACLE_CURRICULUM_PHASES
    oracles["corpus_temperature_mixture"] = ORACLE_TEMPERATURE_MIXTURE
    oracles["corpus_ngram_novelty"] = corpus.ORACLE_NGRAM_NOVELTY
    from .functions.tablefns import ORACLE_UDAF_TRIMMED_SUM
    oracles["udaf_trimmed_sum"] = ORACLE_UDAF_TRIMMED_SUM
    from .streaming.events import ORACLE_STREAMING_STATIC_ENRICH
    oracles["streaming_static_enrich"] = ORACLE_STREAMING_STATIC_ENRICH
    from .operators.validate import ORACLE_K_ANONYMITY
    oracles["privacy_k_anonymity"] = ORACLE_K_ANONYMITY
    from .operators.graph import ORACLE_SQL_RECURSIVE
    oracles["sql_recursive_hierarchy"] = ORACLE_SQL_RECURSIVE
    from .sources.pydatasource import ORACLE_SINK_PYDATASOURCE
    oracles["sink_pydatasource_roundtrip"] = ORACLE_SINK_PYDATASOURCE
    oracles["retrieval_bm25_topk"] = corpus.ORACLE_BM25_TOPK
    from .operators.scale import (
        ORACLE_DIAG_BLOCKING_PAIRS,
        ORACLE_DIAG_JOIN_KEY_SKEW,
    )
    oracles["diag_join_key_skew"] = ORACLE_DIAG_JOIN_KEY_SKEW
    oracles["diag_blocking_pair_census"] = ORACLE_DIAG_BLOCKING_PAIRS
    from .operators.timeseries import ORACLE_EVENTS_ACF
    oracles["events_acf_daily"] = ORACLE_EVENTS_ACF
    from .operators.eventtime import ORACLE_EVENTS_INTERARRIVAL
    oracles["events_interarrival_stats"] = ORACLE_EVENTS_INTERARRIVAL
    oracles["corpus_token_cooccurrence"] = corpus.ORACLE_TOKEN_COOCCURRENCE
    from .operators.timeseries import ORACLE_FORECAST_SEASONAL_NAIVE
    oracles["forecast_seasonal_naive_eval"] = ORACLE_FORECAST_SEASONAL_NAIVE
    from .operators.traindata import ORACLE_QUANTILE_CALIBRATE
    oracles["quality_quantile_calibrate"] = ORACLE_QUANTILE_CALIBRATE
    from .operators.behavior import ORACLE_TRIGRAM_JOURNEYS
    oracles["events_trigram_journeys"] = ORACLE_TRIGRAM_JOURNEYS
    from .operators.scale import ORACLE_DIAG_LAYOUT_ZONEMAP
    oracles["diag_layout_zonemap"] = ORACLE_DIAG_LAYOUT_ZONEMAP
    from .operators.analytics import ORACLE_CRAMERS_V, ORACLE_GINI_LORENZ
    oracles["assoc_cramers_v"] = ORACLE_CRAMERS_V
    from .operators.analytics import (
        ORACLE_MANN_KENDALL, ORACLE_MANN_WHITNEY, ORACLE_SPEARMAN,
    )
    oracles["stat_mann_whitney_u"] = ORACLE_MANN_WHITNEY
    oracles["stat_spearman_corr"] = ORACLE_SPEARMAN
    oracles["stat_mann_kendall_trend"] = ORACLE_MANN_KENDALL
    from .operators.analytics import ORACLE_KENDALL_TAU
    oracles["stat_kendall_tau"] = ORACLE_KENDALL_TAU
    from .operators.relational_ext import ORACLE_SQL_PIPE
    oracles["sql_pipe_syntax_battery"] = ORACLE_SQL_PIPE
    # events_holt_linear: iterative float recurrence → rows-only
    oracles["revenue_gini_lorenz"] = ORACLE_GINI_LORENZ
    oracles["corpus_heaps_law"] = corpus.ORACLE_HEAPS_LAW
    from .operators.eventtime import ORACLE_PEAK_CONCURRENCY
    oracles["events_peak_concurrency"] = ORACLE_PEAK_CONCURRENCY
    from .operators.analytics import (
        ORACLE_BENFORD,
        ORACLE_WEIGHTED_PERCENTILES,
    )
    oracles["agg_weighted_percentiles"] = ORACLE_WEIGHTED_PERCENTILES
    oracles["benford_price_audit"] = ORACLE_BENFORD
    from .operators.behavior import ORACLE_USER_PREDICTABILITY
    oracles["events_user_predictability"] = ORACLE_USER_PREDICTABILITY
    from .operators.graph import ORACLE_DEGREE_DISTRIBUTION
    oracles["graph_degree_distribution"] = ORACLE_DEGREE_DISTRIBUTION
    oracles["corpus_distinctive_terms"] = corpus.ORACLE_DISTINCTIVE_TERMS
    from .operators.similarity import ORACLE_EMBEDDING_SOURCE_DRIFT
    oracles["embedding_source_drift"] = ORACLE_EMBEDDING_SOURCE_DRIFT
    from .operators.validate import ORACLE_TYPE_FIT_AUDIT
    oracles["migrate_type_fit_audit"] = ORACLE_TYPE_FIT_AUDIT
    from .operators.analytics import (
        ORACLE_FULFILLMENT_LATENCY,
        ORACLE_MOM_CONTRIBUTION,
    )
    oracles["orders_fulfillment_latency"] = ORACLE_FULFILLMENT_LATENCY
    oracles["orders_mom_contribution"] = ORACLE_MOM_CONTRIBUTION
    from .functions.tablefns import ORACLE_SQL_SCALAR_UDF
    oracles["sql_scalar_udf_battery"] = ORACLE_SQL_SCALAR_UDF
    from .operators.validate import ORACLE_L_DIVERSITY
    oracles["privacy_l_diversity"] = ORACLE_L_DIVERSITY
    from .operators.relational_ext import ORACLE_NULL_SEMANTICS
    oracles["scalar_null_semantics"] = ORACLE_NULL_SEMANTICS
    # events_markov_stationary: iterative float math → rows-only
    from .operators.eventtime import ORACLE_ID_GAP_AUDIT
    oracles["events_id_gap_audit"] = ORACLE_ID_GAP_AUDIT
    from .operators.cdc import ORACLE_IVM_JOIN_VIEW
    oracles["ivm_join_view_delta"] = ORACLE_IVM_JOIN_VIEW
    from .operators.analytics import ORACLE_MEDIAN_CI
    oracles["agg_median_ci"] = ORACLE_MEDIAN_CI
    from .operators.behavior import ORACLE_ERROR_CONVERSION
    oracles["events_error_conversion"] = ORACLE_ERROR_CONVERSION
    from .operators.analytics import ORACLE_THEILSEN
    oracles["orders_theilsen_trend"] = ORACLE_THEILSEN
    from .operators.eventtime import ORACLE_WEEKLY_SEASONALITY
    oracles["events_weekly_seasonality_strength"] = \
        ORACLE_WEEKLY_SEASONALITY
    from .operators.analytics import ORACLE_COHORT_LTV
    oracles["orders_cohort_ltv"] = ORACLE_COHORT_LTV
    from .operators.scale import ORACLE_JOIN_SIZE_FORECAST
    oracles["diag_join_size_forecast"] = ORACLE_JOIN_SIZE_FORECAST
    # dedup_bloom_prefilter: xxhash64 probes → rows-only
    from .operators.relational import ORACLE_EVENTS_SESSIONIZE
    oracles["udtf_table_arg_sessionize"] = ORACLE_EVENTS_SESSIONIZE
    from .operators.behavior import ORACLE_MULTITOUCH
    oracles["events_multitouch_attribution"] = ORACLE_MULTITOUCH
    # multimodal_phash_neardup: codec-derived hash bits → rows-only
    return oracles
