package graft.queries

import graft.dp.Cleaning
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Support._

/** Scan / filter / join / agg / dedup / cleaning queries with DuckDB
  * oracles. Each `queries` key has a matching `oracle` SQL producing the
  * same column names, types, and row order. */
object RelationalQueries {

  /** Round-trip the nation table through a text format and read it back
    * with graft.io.Tables.readData — the reference's primary ingestion is
    * csv/json with header/inferSchema (dp.py:53-80), and until this query
    * those dispatch arms were never executed end to end. The write is a
    * deterministic fixture under /tmp; the oracle reads the parquet
    * original, so any read-path drift (quoting, schema inference, nulls)
    * fails the hash compare. */
  private def textRoundTrip(s: SparkSession, dir: String, fmt: String): DataFrame = {
    // the fixture is deterministic, so it is written once per sf dir by
    // Publish.once: repeated bench/verify executions time the READ path,
    // and the published dir is never rewritten under a running scan
    val tmp = graft.io.Publish.once(fixtureDir(dir, s"nation_$fmt")) { out =>
      t(s, dir, "nation").coalesce(1).write.mode("overwrite")
        .option("header", "true").format(fmt).save(out)
    }
    graft.io.Tables.readData(s, Seq(tmp), fmt)
      .select(
        col("n_nationkey").cast("int"),
        col("n_name"),
        col("n_regionkey").cast("int"))
      .orderBy(col("n_nationkey"))
  }

  /** Version log for the SCD2 queries: base attributes at ts=0; an update
    * for keys %3 at ts=10; a NO-OP re-observation (attributes identical
    * to the key's latest) for keys %5 at ts=20; and a duplicate-timestamp
    * pair at ts=30 for keys %7 whose struct-max compaction (higher
    * price) must win deterministically. */
  private def scd2Log(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def v(ts: Long, f: DataFrame => DataFrame, price: Column): DataFrame =
      f(base).select(col("o_orderkey"), lit(ts).as("ts"), col("o_custkey"),
        price.as("o_totalprice"))
    v(0L, identity, col("o_totalprice"))
      .unionByName(v(10L, _.filter(col("o_orderkey") % 3 === 0),
        col("o_totalprice") + 5))
      .unionByName(v(20L, _.filter(col("o_orderkey") % 5 === 0),
        col("o_totalprice") +
          when(col("o_orderkey") % 3 === 0, 5.0).otherwise(0.0)))
      .unionByName(v(30L, _.filter(col("o_orderkey") % 7 === 0),
        col("o_totalprice") + 100))
      .unionByName(v(30L, _.filter(col("o_orderkey") % 7 === 0),
        col("o_totalprice") + 200))
  }

  /** The SCD2 derivation CTEs over a `log` CTE (key, ts, attrs):
    * compaction by (key, ts) with the same attribute-descending
    * tie-break as buildScd2's struct-max, no-op collapse via lag,
    * intervals via lead into a final `scd` CTE. */
  private val scd2DeriveSql: String =
    """comp AS (
      |  SELECT o_orderkey, ts, o_custkey, o_totalprice FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_orderkey, ts
      |      ORDER BY o_custkey DESC, o_totalprice DESC) AS rn FROM log)
      |  WHERE rn = 1),
      |surv AS (
      |  SELECT o_orderkey, ts, o_custkey, o_totalprice FROM (
      |    SELECT *, lag(o_custkey) OVER w AS pc, lag(o_totalprice) OVER w AS pp
      |    FROM comp WINDOW w AS (PARTITION BY o_orderkey ORDER BY ts))
      |  WHERE pc IS NULL OR NOT (pc = o_custkey AND pp = o_totalprice)),
      |scd AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, ts AS valid_from,
      |    lead(ts) OVER w AS valid_to,
      |    (lead(ts) OVER w IS NULL) AS is_current
      |  FROM surv WINDOW w AS (PARTITION BY o_orderkey ORDER BY ts))
      |""".stripMargin

  /** DuckDB rebuild of [[scd2Log]]: log CTEs + derivation. Shared by
    * scd2_build and scd2_apply — the latter's incremental result must
    * hash-match this from-scratch rebuild. */
  private val scd2LogSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |  WHERE o_orderkey < 2000),
      |log AS (
      |  SELECT o_orderkey, CAST(0 AS BIGINT) AS ts, o_custkey, o_totalprice FROM base
      |  UNION ALL
      |  SELECT o_orderkey, 10, o_custkey, o_totalprice + 5
      |  FROM base WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 20, o_custkey,
      |    o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 5.0 ELSE 0.0 END
      |  FROM base WHERE o_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 30, o_custkey, o_totalprice + 100
      |  FROM base WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 30, o_custkey, o_totalprice + 200
      |  FROM base WHERE o_orderkey % 7 = 0),
      |""".stripMargin

  private val scd2OracleSql: String =
    scd2LogSql + scd2DeriveSql +
      """SELECT o_orderkey, o_custkey, o_totalprice, valid_from, valid_to,
        |  is_current
        |FROM scd ORDER BY o_orderkey, valid_from""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_read" -> (textRoundTrip(_, _, "csv")),
    "json_read" -> (textRoundTrip(_, _, "json")),
    // ORC is the other Spark-builtin columnar format (vectorized reader,
    // predicate pushdown) — same round-trip contract as csv/json
    "orc_read" -> (textRoundTrip(_, _, "orc")),
    // --- typed JSON column parsing (from_json with an explicit schema —
    // no sampling-based inference pass over 100 TB), then an ordinary agg
    "json_extract" -> { (s, dir) =>
      events(s, dir)
        .select(
          expr("from_json(props, 'k BIGINT').k").as("k"),
          col("value"))
        .groupBy(expr("k div 10").as("k_decile"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("sum_v"))
        .orderBy(col("k_decile"))
    },
    // --- distinct set algebra over two derived key sets (EXCEPT both
    // directions + INTERSECT): hash-partitioned set ops, no driver sets
    "except_intersect" -> { (s, dir) =>
      val ev = events(s, dir)
      def ids(tpe: String) =
        ev.filter(col("event_type") === tpe).select(col("user_id")).distinct()
      val clicks = ids("click")
      val buys = ids("purchase")
      def counted(df: DataFrame, op: String) =
        df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
      counted(clicks.except(buys), "click_not_purchase")
        .unionByName(counted(buys.except(clicks), "purchase_not_click"))
        .unionByName(counted(clicks.intersect(buys), "both"))
        .orderBy(col("op"))
    },
    // --- rollup: revenue by region/nation with subtotal + grand-total rows.
    // Spark expands grouping sets BEFORE the shuffle, so partial aggregation
    // still applies — one Exchange for all three grouping levels.
    "rollup_agg" -> { (s, dir) =>
      t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
        .join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(
          t(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(
          t(s, dir, "region").select(col("r_regionkey"), col("r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), sumd(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_orders"),
          col("revenue"))
        .orderBy(col("region"), col("nation"))
    },
    // --- pivot with EXPLICIT values: no discovery pass over the data, one
    // shuffle, and a schema that is stable at any scale (an implicit pivot
    // collects the value set to the driver — unbounded at 100 TB)
    "pivot_wide" -> { (s, dir) =>
      events(s, dir).filter(col("user_id") < 100)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(sum(dec2(col("value"))).cast("double"))
        .orderBy(col("user_id"))
    },
    // --- unpivot/melt: wide metric columns to (id, metric, value) rows — a
    // generated projection (Expand), zero shuffles
    "unpivot_melt" -> { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    },
    // --- per-key top-k via the native bounded-heap aggregate (TopKStructs):
    // map partitions reduce to ≤ k rows per key BEFORE the exchange, so the
    // shuffle carries the answer, not the table — the scale-safe replacement
    // for the row_number()<=k window idiom (which sorts every row per key)
    "topk_per_key" -> { (s, dir) =>
      graft.dp.TopK.topKPerKey(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"), Seq("o_totalprice", "o_orderkey"), 3)
        .orderBy(col("o_custkey"), col("rank"))
    },
    // --- top-k COMPOSED with other aggregates in one groupBy pass — the
    // case the (optimizer-bounded) window idiom can't express without a
    // second stage + join; counts, revenue, and the top-2 orders come out
    // of a single hash aggregation
    "key_profile_topk" -> { (s, dir) =>
      val top = graft.dp.TopK.topKAgg(2)(
        col("o_totalprice").as("p"), col("o_orderkey").as("k"))
      t(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          sumd(col("o_totalprice")).as("revenue"),
          top.as("top"))
        .select(
          col("o_custkey"), col("n_orders"), col("revenue"),
          col("top")(0).getField("p").as("top1_price"),
          col("top")(0).getField("k").as("top1_key"),
          col("top")(1).getField("p").as("top2_price"),
          col("top")(1).getField("k").as("top2_key"))
        .orderBy(col("o_custkey"))
    },
    // --- cube: both-margins subtotals; like rollup, grouping sets expand
    // before the shuffle so partial aggregation holds for all 4 levels
    "cube_agg" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sumd(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"),
          col("revenue"))
        .orderBy(col("status"), col("priority"))
    },
    // --- bloom-prefiltered semi join: the filtered dim's keys become a
    // broadcast bitmap probed AT THE FACT SCAN, so non-joining fact rows
    // never reach the exchange; the exact semi join on survivors makes the
    // result identical to the plain join (false positives removed)
    "bloom_semi_join" -> { (s, dir) =>
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.dp.BloomJoin
        .semiJoin(t(s, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey",
          expectedItems = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sumd(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    // --- batch upsert (MERGE): today's updates replace same-key rows, new
    // keys insert, untouched rows survive — one anti join + union. The
    // output filter keeps all three row classes visible to the oracle
    "upsert_table" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val updates = orders.filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"))
        .unionByName(orders.filter(col("o_orderkey") < 10)
          .select((col("o_orderkey") + 10000000).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
      graft.io.Tables.upsert(orders, updates, Seq("o_orderkey"))
        .filter(col("o_orderkey") < 1020 || col("o_orderkey") >= 10000000)
        .orderBy(col("o_orderkey"))
    },
    // --- CDC apply: compact a change log (seq-ordered I/U/D per key) and
    // merge into the base — delete/update/insert in one anti-join + union
    "cdc_apply" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def chg(df: DataFrame, op: String, seq: Long) =
        df.withColumn("op", lit(op)).withColumn("seq", lit(seq))
      val dels = chg(
        base.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"),
            lit(null).cast("long").as("o_custkey"),
            lit(null).cast("double").as("o_totalprice")), "D", 3L)
      val upd1 = chg(
        base.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 1).as("o_totalprice")), "U", 1L)
      val upd2 = chg( // later change to a subset of upd1's keys — seq wins
        base.filter(col("o_orderkey") % 14 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 2).as("o_totalprice")), "U", 2L)
      val ins = chg(
        base.filter(col("o_orderkey") < 20)
          .select((col("o_orderkey") + 9000000).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice")), "I", 1L)
      graft.io.Tables
        .applyCdc(base,
          dels.unionByName(upd1).unionByName(upd2).unionByName(ins),
          Seq("o_orderkey"), "op", Some("seq"))
        .filter(col("o_orderkey") < 3000 || col("o_orderkey") >= 9000000)
        .orderBy(col("o_orderkey"))
    },
    // --- snapshot diff: row-level added/removed/changed/unchanged between
    // two versions of a keyed table (the incremental-vs-rebuild regression
    // check)
    "snapshot_diff" -> { (s, dir) =>
      val before = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val after = before
        .filter(col("c_custkey") % 9 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 4 === 0, col("c_acctbal") + 50)
            .otherwise(col("c_acctbal")))
        .unionByName(before.filter(col("c_custkey") < 10)
          .select((col("c_custkey") + 700000).as("c_custkey"),
            col("c_acctbal"), col("c_mktsegment")))
      graft.io.Tables
        .snapshotDiff(before, after, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    },
    // --- SCD2 history build: a version log (planted updates, a no-op
    // re-observation that must NOT split an interval, and a duplicate-
    // timestamp pair whose struct-max compaction must win) folds to one
    // validity interval per effective version
    "scd2_build" -> { (s, dir) =>
      graft.io.Tables.buildScd2(scd2Log(s, dir), Seq("o_orderkey"), "ts")
        .orderBy(col("o_orderkey"), col("valid_from"))
    },
    // --- incremental SCD2: fold the late half of the log into the dim
    // built from the early half — the oracle is the FULL-log rebuild, so
    // the hash compare proves incremental == from-scratch row for row
    "scd2_apply" -> { (s, dir) =>
      val log = scd2Log(s, dir)
      val dim = graft.io.Tables
        .buildScd2(log.filter(col("ts") <= 10), Seq("o_orderkey"), "ts")
      graft.io.Tables
        .applyScd2(dim, log.filter(col("ts") > 10), Seq("o_orderkey"), "ts")
        .orderBy(col("o_orderkey"), col("valid_from"))
    },
    // --- point-in-time view of the SCD2 history: what every key looked
    // like at t=15 (one filter over the intervals — a pruned read, not a
    // restore)
    "scd2_snapshot_at" -> { (s, dir) =>
      graft.io.Tables.snapshotAt(
          graft.io.Tables.buildScd2(scd2Log(s, dir), Seq("o_orderkey"), "ts"),
          lit(15L))
        .orderBy(col("o_orderkey"))
    },
    // --- SCD2 from stacked snapshots: unchanged re-observations collapse,
    // keys that VANISH from a later snapshot get their open interval
    // closed at the first snapshot missing them (%11 dies at 10, %13 at
    // 20), and keys that vanish THEN RETURN (%7: absent at 10, back at
    // 20) get one interval per presence run — snapshotAt(15) must not
    // report them alive even when their attributes never changed
    "scd2_from_snapshots" -> { (s, dir) =>
      val base = t(s, dir, "orders").filter(col("o_orderkey") < 1500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val price = col("o_totalprice") +
        when(col("o_orderkey") % 3 === 0, 5.0).otherwise(0.0)
      def snap(ts: Long, f: DataFrame => DataFrame, p: Column): DataFrame =
        f(base).select(col("o_orderkey"), lit(ts).as("ts"), col("o_custkey"),
          p.as("o_totalprice"))
      val stacked = snap(0L, identity, col("o_totalprice"))
        .unionByName(snap(10L,
          _.filter(col("o_orderkey") % 11 =!= 0 && col("o_orderkey") % 7 =!= 0),
          price))
        .unionByName(snap(20L,
          _.filter(col("o_orderkey") % 11 =!= 0 && col("o_orderkey") % 13 =!= 0),
          price))
      graft.io.Tables.scd2FromSnapshots(stacked, Seq("o_orderkey"), "ts")
        .orderBy(col("o_orderkey"), col("valid_from"), col("o_totalprice"))
    },
    // --- Z-order (Morton) key: the multi-dimensional clustering key
    // behind writeZOrdered — interleaved bits of two 8-bit dimensions,
    // recomputed by the oracle with the same unrolled shift/mask SQL
    "zorder_key" -> { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"),
          graft.io.Layout.zorderKey(
            Seq(pmod(col("o_custkey"), lit(256)).cast("long"),
              pmod(col("o_orderkey"), lit(256)).cast("long")), 8).as("zkey"))
        .orderBy(col("o_orderkey"))
    },
    // --- null-safe equi join (<=>): the null segment group must join its
    // own aggregate row instead of silently dropping — the semantics
    // every "enrich rows with their group stats" pipeline needs when the
    // group key is nullable
    "null_safe_join" -> { (s, dir) =>
      val seg = when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment"))
      val cust = t(s, dir, "customer").select(seg.as("seg"), col("c_acctbal"))
      val stats = cust.groupBy(col("seg"))
        .agg(r6(avg(col("c_acctbal"))).as("seg_avg"))
        .withColumnRenamed("seg", "seg_b")
      cust.join(stats, col("seg") <=> col("seg_b"))
        .groupBy(col("seg"), col("seg_avg"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("seg").asc_nulls_first)
    },
    // --- anti join (customers with no orders in 1995 — non-empty at all SFs)
    "anti_join" -> { (s, dir) =>
      val orders95 = t(s, dir, "orders")
        .filter(year(to_date(col("o_orderdate"))) === 1995)
      t(s, dir, "customer")
        .join(orders95, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    // --- wide agg with group-by (TPC-H Q1 shape; exercises pushdown + 1-pass agg)
    "q1_agg" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumd(col("l_quantity")).as("sum_qty"),
          sumd(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * dec2(lit(1) - col("l_discount")))
            .cast("double").as("sum_disc_price"),
          r6(avg(col("l_quantity"))).as("avg_qty"),
          r6(avg(col("l_extendedprice"))).as("avg_price"),
          r6(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    // --- inner equi-join + group agg (broadcast-able dim side)
    "join_agg" -> { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sumd(col("o_totalprice")).as("total_price"),
          r6(avg(col("o_totalprice"))).as("avg_price"))
        .orderBy(col("c_mktsegment"))
    },
    // --- 4-table join chain (orders->customer->nation->region)
    "join_chain" -> { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), sumd(col("o_totalprice")).as("total_price"))
        .orderBy(col("r_name"))
    },
    // --- PageRank over the part→supplier sourcing graph (the
    // host-authority curation signal, exercised on relational edges):
    // 5 fixed damped power iterations with uniform dangling
    // redistribution; the oracle replays every iteration as a chained CTE
    "pagerank" -> { (s, dir) =>
      graft.graph.Graphs
        .pageRank(
          t(s, dir, "lineitem").filter(col("l_orderkey") < 300)
            .select(col("l_partkey").as("src"), col("l_suppkey").as("dst")),
          "src", "dst", iterations = 5)
        .select(col("id").cast("long").as("id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("id"))
    },
    // --- left join + fillna label attach (reference: feature_engineering.py:111-115)
    "join_left_fillna" -> { (s, dir) =>
      val label = Cleaning
        .labelWindow(
          t(s, dir, "orders").withColumn("o_date", to_date(col("o_orderdate"))),
          "o_date", "1997-06-30", 90)
        .select(col("o_custkey"))
        .distinct()
        .withColumn("target_var", lit(1))
      t(s, dir, "customer")
        .join(label, col("c_custkey") === col("o_custkey"), "left")
        .na.fill(0, Seq("target_var"))
        .groupBy(col("target_var"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("target_var"))
    },
    // --- top-k categories (TakeOrderedAndProject, no full sort)
    "top_categories" -> { (s, dir) =>
      graft.profile.Profile.topKCategories(t(s, dir, "part"), "p_brand", 10)
    },
    // --- snake_case renaming (metadata-only)
    "clean_columns" -> { (s, dir) =>
      Cleaning
        .cleanColumns(
          t(s, dir, "customer").select(
            col("c_custkey").as("CustKey"),
            col("c_acctbal").as("AcctBal"),
            col("c_mktsegment").as("MktSegment")))
        .orderBy(col("cust_key"))
    },
    // --- string scrubbing (reference: dp.py:134-181)
    "clean_string_values" -> { (s, dir) =>
      Cleaning
        .cleanStringValues(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          Seq("text"))
        .withColumnRenamed("text", "clean_text")
        .orderBy(col("doc_id"))
    },
    // --- case-consistency check (reference: dp.py:19-47)
    "check_consistency" -> { (s, dir) =>
      Cleaning
        .checkColumnDataConsistency(
          t(s, dir, "customer"), Seq("c_name", "c_mktsegment"))
        .orderBy(col("column"))
    },
    // --- reference-date filter (reference: data_cleaning.py:53)
    "date_filter" -> { (s, dir) =>
      Cleaning
        .filterUpTo(events(s, dir), "ts", "2024-01-15")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    // --- label window (reference: data_cleaning.py:141-144)
    "label_window" -> { (s, dir) =>
      Cleaning
        .labelWindow(
          t(s, dir, "orders").withColumn("o_date", to_date(col("o_orderdate"))),
          "o_date", "1997-06-30", 90)
        .select(col("o_custkey"))
        .distinct()
        .withColumn("target_var", lit(1))
        .orderBy(col("o_custkey"))
    },
    // --- full-row dedup (reference: dp.py:297-308)
    "dedup_rows" -> { (s, dir) =>
      Cleaning.dropDuplicateRows(t(s, dir, "lineitem")).agg(count(lit(1)).as("n"))
    },
    // --- subset dedup (reference: data_cleaning.py:86-88)
    "dedup_subset" -> { (s, dir) =>
      Cleaning
        .dropDuplicateRows(events(s, dir), Seq("user_id", "event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("event_type"))
    })

  /** PageRank oracle: the 5 damped power iterations unrolled as chained
    * CTEs (standard SQL forbids aggregates in a recursive term, so the
    * fixed iteration count is unrolled — same arithmetic as
    * [[graft.graph.Graphs.pageRank]] including the uniform dangling
    * redistribution). */
  private val pageRankOracleSql: String = {
    def iter(k: Int): String =
      s"""r$k AS (
         |  SELECT v.id,
         |    (1 - 0.85) / cnt.n + 0.85 * (coalesce(s.s, 0) + d.m / cnt.n) AS rank
         |  FROM v
         |  CROSS JOIN cnt
         |  CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS m FROM r${k - 1} r
         |              WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r.id)) d
         |  LEFT JOIN (SELECT e.dst AS id, sum(r.rank / deg.c) AS s
         |             FROM e JOIN r${k - 1} r ON r.id = e.src
         |             JOIN deg ON deg.src = e.src
         |             GROUP BY e.dst) s ON s.id = v.id)""".stripMargin
    """WITH e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst
      |           FROM lineitem WHERE l_orderkey < 300),
      |v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)),
      |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
      |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY src),
      |r0 AS (SELECT v.id, 1.0 / cnt.n AS rank FROM v, cnt),
      |""".stripMargin +
      (1 to 5).map(iter).mkString(",\n") +
      "\nSELECT CAST(id AS BIGINT) AS id, round(rank, 6) AS rank FROM r5 ORDER BY id"
  }

  val oracle: Map[String, String] = Map(
    "pagerank" -> pageRankOracleSql,
    "csv_read" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "json_read" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "orc_read" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "rollup_agg" ->
      """SELECT COALESCE(r_name, 'ALL') AS region,
        |  COALESCE(n_name, 'ALL') AS nation,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "pivot_wide" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error
        |FROM events WHERE user_id < 100
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "unpivot_melt" ->
      """WITH l AS (SELECT * FROM lineitem WHERE l_orderkey < 100)
        |SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM l
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM l
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM l
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM l)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "topk_per_key" ->
      """SELECT o_custkey, CAST(rank AS INT) AS rank, o_totalprice, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC NULLS LAST, o_orderkey DESC NULLS LAST) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    "key_profile_topk" ->
      """SELECT o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  max(CASE WHEN rnk = 1 THEN o_totalprice END) AS top1_price,
        |  max(CASE WHEN rnk = 1 THEN o_orderkey END) AS top1_key,
        |  max(CASE WHEN rnk = 2 THEN o_totalprice END) AS top2_price,
        |  max(CASE WHEN rnk = 2 THEN o_orderkey END) AS top2_key
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey DESC NULLS LAST) AS rnk
        |  FROM orders WHERE o_custkey < 200)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "cube_agg" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "bloom_semi_join" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "upsert_table" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |  FROM base WHERE o_orderkey < 1000
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey < 10),
        |merged AS (
        |  SELECT e.* FROM base e
        |  WHERE e.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL
        |  SELECT * FROM updates)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM merged
        |WHERE o_orderkey < 1020 OR o_orderkey >= 10000000
        |ORDER BY o_orderkey""".stripMargin,
    "cdc_apply" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |res AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 14 = 0 THEN o_totalprice + 2
        |         WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 9000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey < 20)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM res
        |WHERE o_orderkey < 3000 OR o_orderkey >= 9000000
        |ORDER BY o_orderkey""".stripMargin,
    "snapshot_diff" ->
      """WITH b AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |a AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 50 ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM b WHERE c_custkey % 9 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 700000, c_acctbal, c_mktsegment FROM b WHERE c_custkey < 10)
        |SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
        |  CASE WHEN a.c_custkey IS NOT NULL THEN a.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
        |  CASE WHEN a.c_custkey IS NOT NULL THEN a.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment,
        |  CASE WHEN a.c_custkey IS NULL THEN 'removed'
        |       WHEN b.c_custkey IS NULL THEN 'added'
        |       WHEN a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal
        |        AND a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment THEN 'unchanged'
        |       ELSE 'changed' END AS diff_status
        |FROM b FULL OUTER JOIN a ON b.c_custkey = a.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "scd2_build" -> scd2OracleSql,
    // incremental == from-scratch: the apply query's oracle IS the full
    // rebuild — the strongest equivalence the hash compare can state
    "scd2_apply" -> scd2OracleSql,
    "scd2_snapshot_at" ->
      (scd2LogSql + scd2DeriveSql +
        """SELECT o_orderkey, o_custkey, o_totalprice FROM scd
          |WHERE valid_from <= 15 AND (valid_to IS NULL OR 15 < valid_to)
          |ORDER BY o_orderkey""".stripMargin),
    "scd2_from_snapshots" ->
      ("""WITH base AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderkey < 1500),
         |log AS (
         |  SELECT o_orderkey, CAST(0 AS BIGINT) AS ts, o_custkey, o_totalprice
         |  FROM base
         |  UNION ALL
         |  SELECT o_orderkey, 10, o_custkey,
         |    o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 5.0 ELSE 0.0 END
         |  FROM base WHERE o_orderkey % 11 <> 0 AND o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, 20, o_custkey,
         |    o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 5.0 ELSE 0.0 END
         |  FROM base WHERE o_orderkey % 11 <> 0 AND o_orderkey % 13 <> 0),
         |tl AS (
         |  SELECT ts, row_number() OVER (ORDER BY ts) - 1 AS idx,
         |    lead(ts) OVER (ORDER BY ts) AS nxt
         |  FROM (SELECT DISTINCT ts FROM log)),
         |runs AS (
         |  SELECT l.*, tl.idx,
         |    tl.idx - dense_rank() OVER (PARTITION BY o_orderkey ORDER BY tl.idx)
         |      AS run
         |  FROM log l JOIN tl USING (ts)),
         |comp AS (
         |  SELECT o_orderkey, run, ts, o_custkey, o_totalprice FROM (
         |    SELECT *, row_number() OVER (PARTITION BY o_orderkey, run, ts
         |      ORDER BY o_custkey DESC, o_totalprice DESC) AS rn FROM runs)
         |  WHERE rn = 1),
         |surv AS (
         |  SELECT o_orderkey, run, ts, o_custkey, o_totalprice FROM (
         |    SELECT *, lag(o_custkey) OVER w AS pc, lag(o_totalprice) OVER w AS pp
         |    FROM comp WINDOW w AS (PARTITION BY o_orderkey, run ORDER BY ts))
         |  WHERE pc IS NULL OR NOT (pc = o_custkey AND pp = o_totalprice)),
         |scd AS (
         |  SELECT o_orderkey, run, o_custkey, o_totalprice, ts AS valid_from,
         |    lead(ts) OVER w AS valid_to
         |  FROM surv WINDOW w AS (PARTITION BY o_orderkey, run ORDER BY ts)),
         |run_last AS (
         |  SELECT o_orderkey, run, max(idx) AS last_idx FROM runs GROUP BY 1, 2)
         |SELECT s.o_orderkey, s.o_custkey, s.o_totalprice, s.valid_from,
         |  COALESCE(s.valid_to, tl.nxt) AS valid_to,
         |  (COALESCE(s.valid_to, tl.nxt) IS NULL) AS is_current
         |FROM scd s
         |JOIN run_last rl USING (o_orderkey, run)
         |LEFT JOIN tl ON tl.idx = rl.last_idx
         |ORDER BY o_orderkey, valid_from, o_totalprice""".stripMargin),
    "zorder_key" -> {
      val z = graft.io.Layout.zorderKeySql(
        Seq("(o_custkey % 256)", "(o_orderkey % 256)"), 8)
      s"""SELECT o_orderkey, CAST($z AS BIGINT) AS zkey
         |FROM orders WHERE o_orderkey < 5000
         |ORDER BY o_orderkey""".stripMargin
    },
    "null_safe_join" ->
      """WITH c AS (SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
        |                       ELSE c_mktsegment END AS seg, c_acctbal
        |           FROM customer),
        |s AS (SELECT seg, round(avg(c_acctbal), 6) AS seg_avg FROM c GROUP BY seg)
        |SELECT c.seg, s.seg_avg, CAST(count(*) AS BIGINT) AS n
        |FROM c JOIN s ON c.seg IS NOT DISTINCT FROM s.seg
        |GROUP BY 1, 2 ORDER BY c.seg NULLS FIRST""".stripMargin,
    "anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) = 1995)
        |ORDER BY c_custkey""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "join_agg" ->
      """SELECT c_mktsegment,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  round(avg(o_totalprice), 6) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_chain" ->
      """SELECT r_name,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "join_left_fillna" ->
      """WITH lbl AS (
        |  SELECT DISTINCT o_custkey, 1 AS target_var FROM orders
        |  WHERE CAST(o_orderdate AS DATE) > DATE '1997-06-30'
        |    AND CAST(o_orderdate AS DATE) <= DATE '1997-06-30' + INTERVAL 90 DAY)
        |SELECT COALESCE(target_var, 0) AS target_var, count(*) AS n
        |FROM customer LEFT JOIN lbl ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "top_categories" ->
      """SELECT p_brand, count(*) AS freq FROM part
        |GROUP BY p_brand ORDER BY freq DESC, p_brand LIMIT 10""".stripMargin,
    "clean_columns" ->
      """SELECT c_custkey AS cust_key, c_acctbal AS acct_bal, c_mktsegment AS mkt_segment
        |FROM customer ORDER BY cust_key""".stripMargin,
    "clean_string_values" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(regexp_replace(regexp_replace(text,
        |    '\(.*?\)|\[.*?\]', '', 'g'), '[^a-zA-Z0-9 .,_-]', '', 'g')),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "check_consistency" ->
      """SELECT * FROM (
        |  SELECT 'c_name' AS "column", count(DISTINCT c_name) AS distinct_raw,
        |    count(DISTINCT lower(c_name)) AS distinct_lower,
        |    count(DISTINCT c_name) = count(DISTINCT lower(c_name)) AS consistent
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', count(DISTINCT c_mktsegment),
        |    count(DISTINCT lower(c_mktsegment)),
        |    count(DISTINCT c_mktsegment) = count(DISTINCT lower(c_mktsegment))
        |  FROM customer)
        |ORDER BY "column"""".stripMargin,
    "date_filter" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "label_window" ->
      """SELECT DISTINCT o_custkey, 1 AS target_var FROM orders
        |WHERE CAST(o_orderdate AS DATE) > DATE '1997-06-30'
        |  AND CAST(o_orderdate AS DATE) <= DATE '1997-06-30' + INTERVAL 90 DAY
        |ORDER BY o_custkey""".stripMargin,
    "dedup_rows" ->
      "SELECT count(*) AS n FROM (SELECT DISTINCT * FROM lineitem)",
    "dedup_subset" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "json_extract" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_decile,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "except_intersect" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'click_not_purchase' AS op,
        |  CAST((SELECT count(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM p)) AS BIGINT) AS n
        |UNION ALL SELECT 'purchase_not_click',
        |  CAST((SELECT count(*) FROM (SELECT * FROM p EXCEPT SELECT * FROM c)) AS BIGINT)
        |UNION ALL SELECT 'both',
        |  CAST((SELECT count(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p)) AS BIGINT)
        |ORDER BY op""".stripMargin)
}
