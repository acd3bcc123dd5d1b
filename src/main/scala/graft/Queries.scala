package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint

import graft.ops.{Dedup, Similarity, TextAnalysis, Multimodal}
import graft.streaming.EventStreams

/** The driver-facing operator inventory: every operator class from SURVEY §2
  * (scans, projections, joins, aggregations, sorts, set ops, graph traversal)
  * plus the training-data-pipeline extensions (dedup, similarity, text
  * analysis, multimodal), each expressed over the deterministic
  * `/root/testdata` tables with a DuckDB-equivalent oracle where SQL can
  * express it.
  *
  * Parity conventions (hash-compare safety):
  *  - every aggregate/computed column aliased identically on both sides;
  *  - doubles rounded (both engines round half-away-from-zero on doubles) —
  *    EXCEPT values that are exact small rationals (rank/count ratios):
  *    k/n can land exactly on a .xxxxxx5 boundary where Spark rounds
  *    HALF_UP but DuckDB half-even (hit at sf0.1 by cume_dist: 0.5203125);
  *    those use tie-free floor(x*1e6)/1e6 on both sides instead;
  *  - DuckDB integer sums cast to BIGINT (they default to HUGEINT);
  *  - timestamps surfaced as epoch seconds (both truncate sub-second);
  *  - arrays surfaced as sorted joined strings.
  */
object Queries {

  case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(s, dir)
    else s.read.parquet(s"$dir/$name.parquet")

  /** Normalize the events `ts` column to a session-TZ microsecond timestamp
    * regardless of how the parquet encodes it. The testdata has shipped two
    * shapes so far — TIMESTAMP(NANOS) (readable only via
    * `legacy.parquet.nanosAsLong`, surfacing as int64 nanos) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (surfacing as TIMESTAMP_NTZ) —
    * so branch on the READ schema instead of assuming either. Under the
    * project-wide UTC session timezone, NTZ→TZ is an identity relabel and
    * both branches agree with DuckDB's naive read. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long legacy read
        // `div` keeps the ns→µs truncation in 64-bit integer arithmetic;
        // `/` would promote to double and epoch nanos (~1.7e18) exceed the
        // 2^53 mantissa, truncating ~1-2% of values off-by-one µs vs DuckDB.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already a session-TZ timestamp
    }

  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** Weighted co-purchase pair relation (a < b, cnt = shared distinct
    * orders) — the graph that q90/q97/q105/q109/q133/q134 all traverse, now
    * a first-class bucketed materialized view in [[graft.sources.Store]]
    * (bucketed+sorted on `a`, so consumers read it Exchange-free for
    * `a`-keyed work — StoreSpec locks the contract). */
  private def copurchasePairs(s: SparkSession, d: String): DataFrame =
    graft.sources.Store.copurchase(s, d)

  // ---------------------------------------------------------------- scans/projections
  private val scanQs = Seq(
    Q("q01_scan_filter_project",
      (s, d) => T(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_returnflag = 'R' AND l_quantity > 30""".stripMargin)),

    Q("q02_agg_sum_groupby",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty")),
      Some("SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty FROM lineitem GROUP BY 1")),

    Q("q03_agg_multi",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus,
             | round(sum(l_quantity), 2) AS sum_qty,
             | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
             | round(avg(l_quantity), 6) AS avg_qty,
             | count(*) AS n
             |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    Q("q04_filter_isin",
      (s, d) => T(s, d, "nation")
        .filter(col("n_regionkey").isin(0, 2))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey IN (0, 2)")),

    Q("q05_case_when_cast",
      (s, d) => T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") > 40, "high")
            .when(col("l_quantity") > 20, "mid")
            .otherwise("low").as("qty_band"),
          when(col("l_quantity") > 25, col("l_quantity").cast("int")).as("qty_int")),
      Some("""SELECT l_orderkey, l_linenumber,
             | CASE WHEN l_quantity > 40 THEN 'high'
             |      WHEN l_quantity > 20 THEN 'mid' ELSE 'low' END AS qty_band,
             | CASE WHEN l_quantity > 25 THEN CAST(l_quantity AS INT) END AS qty_int
             |FROM lineitem""".stripMargin)),

    Q("q06_string_funcs",
      (s, d) => T(s, d, "part")
        .select(col("p_partkey"),
          concat(col("p_brand"), lit("#"),
            lower(call_function("replace", col("p_type"), lit(" "), lit("_")))).as("label"),
          trim(upper(col("p_name"))).as("uname")),
      Some("""SELECT p_partkey,
             | p_brand || '#' || lower(replace(p_type, ' ', '_')) AS label,
             | trim(upper(p_name)) AS uname
             |FROM part""".stripMargin)),

    Q("q07_split_explode",
      (s, d) => T(s, d, "part")
        .select(explode(split(col("p_type"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n")),
      Some("""SELECT token, count(*) AS n FROM (
             | SELECT unnest(string_split(p_type, ' ')) AS token FROM part)
             |GROUP BY 1""".stripMargin)),

    Q("q28_label_concat",
      (s, d) => T(s, d, "customer")
        .select(col("c_custkey"),
          concat(col("c_name"), lit(" ("), col("c_custkey").cast("string"),
            lit(") ["), col("c_mktsegment"), lit("]")).as("label")),
      Some("""SELECT c_custkey,
             | c_name || ' (' || CAST(c_custkey AS VARCHAR) || ') [' || c_mktsegment || ']' AS label
             |FROM customer""".stripMargin)),

    Q("q56_unpivot",
      (s, d) => T(s, d, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size"), col("retailprice")), "metric", "value"),
      Some("""SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
             |UNION ALL
             |SELECT p_partkey, 'retailprice', p_retailprice FROM part""".stripMargin)),

    Q("q57_regexp_extract",
      (s, d) => T(s, d, "customer")
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "^([A-Za-z]+)#", 1).as("prefix"),
          regexp_extract(col("c_name"), "(\\d+)$", 1).cast("long").as("seq")),
      Some("""SELECT c_custkey, regexp_extract(c_name, '^([A-Za-z]+)#', 1) AS prefix,
             | CAST(regexp_extract(c_name, '(\d+)$', 1) AS BIGINT) AS seq
             |FROM customer""".stripMargin)),

    Q("q58_rollup",
      (s, d) => T(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             | round(sum(l_quantity), 2) AS qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    Q("q29_year_conditional",
      (s, d) => T(s, d, "orders")
        .select(when(col("o_totalprice") > 1000, year(col("o_orderdate"))).as("yr"))
        .groupBy(col("yr")).agg(count(lit(1)).as("n")),
      Some("""SELECT CASE WHEN o_totalprice > 1000
             |   THEN CAST(EXTRACT(year FROM o_orderdate) AS INT) END AS yr,
             | count(*) AS n
             |FROM orders GROUP BY 1""".stripMargin)))

  // ---------------------------------------------------------------- joins
  private val joinQs = Seq(
    Q("q08_join_inner_broadcast",
      (s, d) => T(s, d, "orders")
        .join(broadcast(T(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total")),
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             | round(sum(o_totalprice), 2) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1""".stripMargin)),

    Q("q09_join_left_count",
      (s, d) => T(s, d, "customer")
        .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders")),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY 1""".stripMargin)),

    Q("q10_join_semi",
      (s, d) => T(s, d, "customer")
        .join(T(s, d, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment")),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    Q("q11_join_anti",
      (s, d) => T(s, d, "customer")
        .join(T(s, d, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    Q("q12_join_multiway",
      (s, d) => T(s, d, "lineitem")
        .join(broadcast(T(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(T(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty")),
      Some("""SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS qty
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY 1""".stripMargin)),

    Q("q13_first_per_key",
      (s, d) => {
        // l_linenumber is not unique per order in the synthetic data — pin a
        // fully deterministic ordering
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        T(s, d, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      },
      Some("""SELECT l_orderkey, l_partkey, l_quantity FROM (
             | SELECT *, row_number() OVER (PARTITION BY l_orderkey
             |   ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
             | FROM lineitem) WHERE rn = 1""".stripMargin)),

    Q("q14_point_lookup",
      (s, d) => T(s, d, "part")
        .filter(col("p_partkey").isin(1, 2, 3, 5, 8, 13, 21, 34))
        .select(col("p_partkey"), col("p_name"), col("p_brand")),
      Some("""SELECT p_partkey, p_name, p_brand FROM part
             |WHERE p_partkey IN (1, 2, 3, 5, 8, 13, 21, 34)""".stripMargin)),

    Q("q27_join_edge_label",
      // no forced broadcast (part/supplier scale with SF): AQE picks BHJ at
      // test scale and SMJ at cluster scale; q08/q12 keep explicit hints as
      // the deliberate broadcast-join demonstrations on bounded builds
      (s, d) => T(s, d, "lineitem")
        .join(T(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .join(T(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(
          when(col("p_size") > 25 && col("s_acctbal") > 0, "big part, solvent supplier")
            .when(col("p_size") > 25, "big part, indebted supplier")
            .otherwise("small part").as("edge_label"))
        .groupBy(col("edge_label")).agg(count(lit(1)).as("n")),
      Some("""SELECT CASE WHEN p_size > 25 AND s_acctbal > 0 THEN 'big part, solvent supplier'
             |            WHEN p_size > 25 THEN 'big part, indebted supplier'
             |            ELSE 'small part' END AS edge_label, count(*) AS n
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY 1""".stripMargin)))

  // ---------------------------------------------------------------- aggregations
  private val aggQs = Seq(
    Q("q17_conditional_agg",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).cast("long").as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).cast("long").as("n_o"),
          count(lit(1)).as("n")),
      Some("""SELECT o_orderpriority,
             | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
             | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
             | count(*) AS n
             |FROM orders GROUP BY 1""".stripMargin)),

    Q("q18_collect_set_sorted",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses")),
      Some("""SELECT l_returnflag, string_agg(ls, ',' ORDER BY ls) AS statuses
             |FROM (SELECT DISTINCT l_returnflag, l_linestatus AS ls FROM lineitem)
             |GROUP BY 1""".stripMargin)),

    Q("q19_count_distinct",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             | count(DISTINCT l_suppkey) AS n_supps
             |FROM lineitem GROUP BY 1""".stripMargin)),

    Q("q20_ratio_truncated",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).cast("long").as("nf"))
        .withColumn("pct_f",
          (floor(col("nf").cast("double") / col("total") * 1000) / 10).cast("double"))
        .select(col("o_orderpriority"), col("total"), col("nf"), col("pct_f")),
      Some("""SELECT o_orderpriority, count(*) AS total,
             | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS nf,
             | CAST(floor(CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS DOUBLE)
             |   / count(*) * 1000) / 10 AS DOUBLE) AS pct_f
             |FROM orders GROUP BY 1""".stripMargin)),

    Q("q21_histogram_bucket",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("sz"))
        .withColumn("bucket",
          when(col("sz") === 1, "one").when(col("sz") <= 3, "few")
            .when(col("sz") <= 10, "some").otherwise("many"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_customers"), sum(col("sz")).as("n_orders")),
      Some("""SELECT bucket, count(*) AS n_customers, CAST(sum(sz) AS BIGINT) AS n_orders
             |FROM (SELECT CASE WHEN sz = 1 THEN 'one' WHEN sz <= 3 THEN 'few'
             |             WHEN sz <= 10 THEN 'some' ELSE 'many' END AS bucket, sz
             |      FROM (SELECT o_custkey, count(*) AS sz FROM orders GROUP BY 1))
             |GROUP BY 1""".stripMargin)),

    Q("q22_degree_stats",
      (s, d) => {
        // single aggregation pipeline: unpivot endpoints once, conditional
        // stats per side (a vertex has out-stats iff it appears as src) —
        // no second groupBy, no crossJoin of two agg subplans
        val e = T(s, d, "lineitem")
          .select(col("l_partkey").as("src"), col("l_suppkey").as("dst")).distinct()
        val sides = e.select(col("src").as("id"), lit(1L).as("o"), lit(0L).as("i"))
          .unionByName(e.select(col("dst").as("id"), lit(0L).as("o"), lit(1L).as("i")))
        sides.groupBy(col("id"))
          .agg(sum(col("o")).as("od"), sum(col("i")).as("idg"))
          .agg(
            max(when(col("od") > 0, col("od"))).as("max_out"),
            round(avg(when(col("od") > 0, col("od"))), 6).as("avg_out"),
            max(when(col("idg") > 0, col("idg"))).as("max_in"),
            round(avg(when(col("idg") > 0, col("idg"))), 6).as("avg_in"))
      },
      Some("""WITH e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
             | o AS (SELECT max(deg) AS max_out, round(avg(deg), 6) AS avg_out
             |       FROM (SELECT count(*) AS deg FROM e GROUP BY src)),
             | i AS (SELECT max(deg) AS max_in, round(avg(deg), 6) AS avg_in
             |       FROM (SELECT count(*) AS deg FROM e GROUP BY dst))
             |SELECT max_out, avg_out, max_in, avg_in FROM o, i""".stripMargin)),

    Q("q62_percentile",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90")),
      Some("""SELECT o_orderpriority,
             | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             | round(quantile_cont(o_totalprice, 0.9), 4) AS p90
             |FROM orders GROUP BY 1""".stripMargin)),

    Q("q63_corr_stats",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qd"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_q")),
      Some("""SELECT l_returnflag,
             | round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             | round(covar_samp(l_quantity, l_discount), 4) AS cov_qd,
             | round(stddev_samp(l_quantity), 4) AS sd_q
             |FROM lineitem GROUP BY 1""".stripMargin)),

    Q("q64_pivot",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 2))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o"),
      Some("""SELECT l_returnflag,
             | round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
             | round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
             |FROM lineitem GROUP BY 1""".stripMargin)),

    Q("q16_topk_per_group",
      (s, d) => {
        val agg = T(s, d, "lineitem")
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(round(sum(col("l_quantity")), 2).as("qty"))
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("qty").desc, col("l_partkey"))
        agg.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
          .select(col("l_suppkey"), col("l_partkey"), col("qty"), col("rank"))
      },
      Some("""SELECT l_suppkey, l_partkey, qty, rank FROM (
             | SELECT l_suppkey, l_partkey, qty,
             |   row_number() OVER (PARTITION BY l_suppkey ORDER BY qty DESC, l_partkey) AS rank
             | FROM (SELECT l_suppkey, l_partkey, round(sum(l_quantity), 2) AS qty
             |       FROM lineitem GROUP BY 1, 2))
             |WHERE rank <= 3""".stripMargin)),

    Q("q30_window_running",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |   ORDER BY o_orderdate, o_orderkey
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
             |FROM orders""".stripMargin)))

  // ---------------------------------------------------------------- sorts / topk / set ops
  private val sortSetQs = Seq(
    Q("q15_topk",
      (s, d) => T(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price")),
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("q23_union_distinct",
      (s, d) => T(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .unionByName(T(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct(),
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |UNION SELECT s_nationkey FROM supplier""".stripMargin)),

    Q("q24_overlap_partition",
      (s, d) => T(s, d, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .groupBy(col("l_partkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("inR"),
          max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("inA"))
        .withColumn("bucket",
          when(col("inR") === 1 && col("inA") === 1, "overlap")
            .when(col("inR") === 1, "only_r").otherwise("only_a"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_parts")),
      Some("""SELECT bucket, count(*) AS n_parts FROM (
             | SELECT CASE WHEN inR = 1 AND inA = 1 THEN 'overlap'
             |             WHEN inR = 1 THEN 'only_r' ELSE 'only_a' END AS bucket
             | FROM (SELECT l_partkey,
             |         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS inR,
             |         max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS inA
             |       FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1))
             |GROUP BY 1""".stripMargin)),

    Q("q25_unique_to_group",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_returnflag")).as("nflags"),
          max(col("l_returnflag")).as("flag"))
        .filter(col("nflags") === 1)
        .select(col("l_partkey"), col("flag")),
      Some("""SELECT l_partkey, max(l_returnflag) AS flag FROM lineitem
             |GROUP BY 1 HAVING count(DISTINCT l_returnflag) = 1""".stripMargin)),

    Q("q65_intersect_except",
      (s, d) => {
        val cn = T(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        val sn = T(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
        cn.intersect(sn).withColumn("side", lit("both"))
          .unionByName(cn.except(sn).withColumn("side", lit("customer_only")))
      },
      Some("""SELECT nationkey, 'both' AS side FROM
             | (SELECT c_nationkey AS nationkey FROM customer
             |  INTERSECT SELECT s_nationkey FROM supplier)
             |UNION ALL
             |SELECT nationkey, 'customer_only' FROM
             | (SELECT c_nationkey AS nationkey FROM customer
             |  EXCEPT SELECT s_nationkey FROM supplier)""".stripMargin)),

    Q("q66_array_hof",
      (s, d) => T(s, d, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("n_dims"),
          round(sqrt(aggregate(col("embedding").cast("array<double>"),
            lit(0.0d), (acc, x) => acc + x * x)), 4).as("l2"),
          size(filter(col("embedding"), x => x > 0)).as("n_pos")),
      Some("""SELECT vec_id, len(embedding) AS n_dims,
             | round(sqrt(list_sum(list_transform(embedding,
             |   x -> CAST(x AS DOUBLE) * x))), 4) AS l2,
             | CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos
             |FROM embeddings""".stripMargin)),

    Q("q26_semi_explode_distinct",
      (s, d) => T(s, d, "lineitem")
        .filter(col("l_partkey").isin(1, 2, 3, 5, 8))
        .select(col("l_suppkey")).distinct(),
      Some("SELECT DISTINCT l_suppkey FROM lineitem WHERE l_partkey IN (1, 2, 3, 5, 8)")))

  // ---------------------------------------------------------------- graph over testdata
  /** Undirected part↔supplier graph from lineitem; supplier ids offset. */
  private def psEdges(s: SparkSession, d: String): DataFrame =
    T(s, d, "lineitem")
      .select(col("l_partkey").as("a"), (col("l_suppkey") + 1000000L).as("b"))
      .distinct()

  private val graphQs = Seq(
    Q("q31_bfs_2hop",
      (s, d) => {
        val e = FreshCheckpoint(psEdges(s, d))
        val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
        val seed = T(s, d, "lineitem").agg(min(col("l_partkey"))).head().getLong(0)
        var frontier = s.range(1).select(lit(seed).as("id"), lit(0).as("hop"))
        var all = frontier
        for (h <- 1 to 2) {
          frontier = FreshCheckpoint(frontier.join(und, col("id") === col("a"))
            .select(col("b").as("id"), lit(h).as("hop"))
            .distinct()
            .join(all.select(col("id")), Seq("id"), "left_anti"))
          all = all.unionByName(frontier)
        }
        all.select(col("id"), col("hop").cast("int").as("hop"))
      },
      Some("""WITH RECURSIVE und AS (
             |  SELECT DISTINCT l_partkey AS a, 1000000 + l_suppkey AS b FROM lineitem
             |  UNION SELECT 1000000 + l_suppkey, l_partkey FROM lineitem),
             |bfs(id, d) AS (
             |  SELECT min(l_partkey), 0 FROM lineitem
             |  UNION ALL SELECT u.b, d + 1 FROM bfs JOIN und u ON u.a = bfs.id WHERE d < 2)
             |SELECT id, CAST(min(d) AS INT) AS hop FROM bfs GROUP BY id""".stripMargin)),

    Q("q32_connected_components",
      (s, d) => {
        val edges = T(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_regionkey").cast("long") + 1000L).as("dst"))
        val vertices = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id"))).distinct()
        graft.graph.Analytics.connectedComponents(vertices, edges)
          .select(col("id"), col("component"))
      },
      Some("""WITH RECURSIVE und AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS a, CAST(n_regionkey AS BIGINT) + 1000 AS b FROM nation
             |  UNION SELECT CAST(n_regionkey AS BIGINT) + 1000, CAST(n_nationkey AS BIGINT) FROM nation),
             |nodes AS (SELECT DISTINCT a AS id FROM und),
             |r(s, id) AS (
             |  SELECT id, id FROM nodes
             |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id)
             |SELECT s AS id, min(id) AS component FROM r GROUP BY s""".stripMargin)),

    Q("q33_chain_depth",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        T(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            (row_number().over(w) - 1).cast("long").as("depth"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             | CAST(row_number() OVER (PARTITION BY o_custkey
             |   ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS depth
             |FROM orders""".stripMargin)),

    Q("q50_bfs_exclusion",
      (s, d) => {
        // panditya flagship semantics on testdata: excluded node is reached
        // but not expanded
        val e = FreshCheckpoint(psEdges(s, d))
        val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
        val li = T(s, d, "lineitem")
        val mins = li.agg(min(col("l_partkey")), min(col("l_suppkey"))).head()
        val seed = mins.getLong(0)
        val excl = mins.getLong(1) + 1000000L
        var frontier = s.range(1).select(lit(seed).as("id"), lit(0).as("hop"))
        var all = frontier
        for (h <- 1 to 2) {
          frontier = FreshCheckpoint(frontier.filter(col("id") =!= excl)
            .join(und, col("id") === col("a"))
            .select(col("b").as("id"), lit(h).as("hop"))
            .distinct()
            .join(all.select(col("id")), Seq("id"), "left_anti"))
          all = all.unionByName(frontier)
        }
        all.select(col("id"), col("hop").cast("int").as("hop"))
      },
      Some("""WITH RECURSIVE und AS (
             |  SELECT DISTINCT l_partkey AS a, 1000000 + l_suppkey AS b FROM lineitem
             |  UNION SELECT 1000000 + l_suppkey, l_partkey FROM lineitem),
             |bfs(id, d) AS (
             |  SELECT min(l_partkey), 0 FROM lineitem
             |  UNION ALL SELECT u.b, d + 1 FROM bfs JOIN und u ON u.a = bfs.id
             |  WHERE d < 2 AND bfs.id <> (SELECT 1000000 + min(l_suppkey) FROM lineitem))
             |SELECT id, CAST(min(d) AS INT) AS hop FROM bfs GROUP BY id""".stripMargin)))

  // ---------------------------------------------------------------- centrality / community
  private val centralityQs = Seq(
    Q("q51_degree_centrality",
      (s, d) => {
        val e = psEdges(s, d).select(col("a").as("src"), col("b").as("dst"))
        val v = e.select(col("src").as("id"))
          .unionByName(e.select(col("dst").as("id"))).distinct()
        graft.graph.Centrality.degreeCentrality(v, e)
          .select(col("id"), col("inDeg").as("in_deg"), col("outDeg").as("out_deg"),
            col("deg"), col("inCentrality").as("in_centrality"),
            col("outCentrality").as("out_centrality"), col("centrality"))
      },
      Some("""WITH e AS (SELECT DISTINCT l_partkey AS src, 1000000 + l_suppkey AS dst FROM lineitem),
             |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
             |nn AS (SELECT count(*) AS n FROM v),
             |o AS (SELECT src AS id, count(*) AS od FROM e GROUP BY 1),
             |i AS (SELECT dst AS id, count(*) AS idg FROM e GROUP BY 1)
             |SELECT v.id, coalesce(i.idg, 0) AS in_deg, coalesce(o.od, 0) AS out_deg,
             | coalesce(i.idg, 0) + coalesce(o.od, 0) AS deg,
             | CAST(coalesce(i.idg, 0) AS DOUBLE) / (nn.n - 1) AS in_centrality,
             | CAST(coalesce(o.od, 0) AS DOUBLE) / (nn.n - 1) AS out_centrality,
             | CAST(coalesce(i.idg, 0) + coalesce(o.od, 0) AS DOUBLE) / (nn.n - 1) AS centrality
             |FROM v LEFT JOIN o ON o.id = v.id LEFT JOIN i ON i.id = v.id, nn""".stripMargin)),

    Q("q52_eigenvector",
      (s, d) => {
        // undirected nation↔region graph: symmetric matrix → geometric
        // convergence for the power iteration (the shifted I+A breaks the
        // bipartite ± eigenvalue pairing). Fixed 30 rounds, normalized once
        // at the end: the linear recurrence makes per-round normalization a
        // pure rescale, so a fixed round count is both semantically the same
        // power iteration AND deterministic enough for the SQL oracle to
        // replay it stage by stage (the convergence-gated variant stops at a
        // data-dependent round — kept as Centrality.eigenvector for the
        // reference's None-on-non-convergence contract, tested in
        // AnalyticsSpec vs networkx).
        val e0 = T(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_regionkey").cast("long") + 1000L).as("dst"))
        val und = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        val v = und.select(col("src").as("id")).distinct()
        graft.graph.Centrality.powerIterationFixed(v, und, 30)
          .select(col("id"), round(col("score"), 6).as("score"))
      },
      // Unrolled 30-stage chain; every stage MATERIALIZED — each references
      // its predecessor twice, so inlining would expand the plan 2^30.
      Some {
        val stages = (1 to 30).map { k =>
          val prev = if (k == 1) "x0" else s"x${k - 1}"
          s"""x$k AS MATERIALIZED (
             |  SELECT x.id, x.score + coalesce(c.inc, 0.0) AS score
             |  FROM $prev x LEFT JOIN (
             |    SELECT e.dst AS id, sum(y.score) AS inc FROM e JOIN $prev y ON y.id = e.src GROUP BY e.dst
             |  ) c ON c.id = x.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS src, CAST(n_regionkey AS BIGINT) + 1000 AS dst FROM nation),
           |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
           |v AS (SELECT DISTINCT src AS id FROM e),
           |x0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS score FROM v),
           |$stages,
           |nrm AS (SELECT sqrt(sum(score*score)) AS nv FROM x30)
           |SELECT id, round(score / nv, 6) AS score FROM x30, nrm""".stripMargin
      }),

    Q("q53_betweenness",
      (s, d) => {
        // disjoint directed chains: customers ordered by key within nation.
        // Closed form for a path graph makes this SQL-oracle-checkable:
        // betweenness(node at position p of an m-chain) = p*(m-1-p) pairs.
        val c = T(s, d, "customer")
        val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
        val chain = c.select(col("c_nationkey"), col("c_custkey"))
          .withColumn("nxt", lead(col("c_custkey"), 1).over(w))
        val edges = chain.filter(col("nxt").isNotNull)
          .select(col("c_custkey").cast("string").as("src"),
            col("nxt").cast("string").as("dst"))
        val v = c.select(col("c_custkey").cast("string").as("id"))
        graft.graph.Centrality.betweenness(v, edges)
          .select(col("id"), col("betweenness"))
      },
      Some("""WITH c AS (SELECT c_custkey,
             |   row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) - 1 AS p,
             |   count(*) OVER (PARTITION BY c_nationkey) AS m
             | FROM customer),
             |nn AS (SELECT count(*) AS n FROM customer)
             |SELECT CAST(c_custkey AS VARCHAR) AS id,
             | CAST(p * (m - 1 - p) AS DOUBLE) / ((nn.n - 1) * (nn.n - 2)) AS betweenness
             |FROM c, nn""".stripMargin)),

    Q("q54_louvain",
      (s, d) => {
        val e0 = T(s, d, "nation")
          .select(col("n_nationkey").cast("string").as("src"),
            concat(lit("r"), col("n_regionkey").cast("string")).as("dst"))
        val v = e0.select(col("src").as("id"))
          .unionByName(e0.select(col("dst").as("id"))).distinct()
        graft.graph.Community.louvain(v, e0)
      },
      // nation–region stars: optimal partition = one community per region,
      // labeled by lexicographic-min member id ('r…' sorts after digits)
      Some("""WITH m AS (SELECT n_regionkey,
             |   min(CAST(n_nationkey AS VARCHAR)) AS community FROM nation GROUP BY 1)
             |SELECT CAST(n_nationkey AS VARCHAR) AS id, m.community
             |FROM nation JOIN m USING (n_regionkey)
             |UNION ALL
             |SELECT DISTINCT 'r' || CAST(n_regionkey AS VARCHAR), m.community
             |FROM nation JOIN m USING (n_regionkey)""".stripMargin)),

    Q("q55_discipline_summary",
      (s, d) => {
        // SURVEY A1: per-key frequency summary string ordered by
        // (count desc, name asc), rendered "name (n), name (n)"
        val counts = T(s, d, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"))
        counts.groupBy(col("l_returnflag"))
          .agg(array_join(transform(
            array_sort(collect_list(struct((-col("n")).as("negn"), col("l_linestatus").as("st")))),
            x => concat(x.getField("st"), lit(" ("),
              (-x.getField("negn")).cast("string"), lit(")"))), ", ").as("summary"))
      },
      Some("""SELECT l_returnflag,
             | string_agg(l_linestatus || ' (' || CAST(n AS VARCHAR) || ')', ', '
             |   ORDER BY n DESC, l_linestatus) AS summary
             |FROM (SELECT l_returnflag, l_linestatus, count(*) AS n
             |      FROM lineitem GROUP BY 1, 2)
             |GROUP BY 1""".stripMargin)))

  // ---------------------------------------------------------------- dedup / text ops
  /** The WITH-chain replaying [[graft.ops.Dedup.minhashLsh]] (8 hashes,
    * 4 bands of 2) through the final verified pair relation
    * `mh(a, b, jaccard)` — shared by q35, the q192 cross-source rollup and
    * the q195 threshold sweep (threshold 0 keeps every banded candidate). */
  private def minhashPairCtes(threshold: Double = 0.8,
      recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}words AS (
      |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
      |    x -> x <> '') AS tl FROM documents)),
      |toks AS (
      |  SELECT DISTINCT doc_id,
      |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
      |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
      |sig AS (SELECT doc_id,
      |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
      |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
      |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
      |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
      |  FROM toks GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
      |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
      |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
      |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
      |   AND x.doc_id < y.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
      |inter AS (SELECT c.a, c.b, count(*) AS i
      |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
      |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
      |  GROUP BY 1, 2),
      |mh AS (SELECT c.a, c.b,
      |  floor(CAST(coalesce(i.i, 0) AS DOUBLE)
      |    / (sa.sz + sb.sz - coalesce(i.i, 0)) * 1000000) / 1000000 AS jaccard
      |FROM cand c
      |LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
      |JOIN sizes sa ON sa.doc_id = c.a
      |JOIN sizes sb ON sb.doc_id = c.b
      |WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
      |    / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= $threshold)""".stripMargin

  private val dedupQs = Seq(
    Q("q34_dedup_exact",
      (s, d) => Dedup.exact(T(s, d, "documents")),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
             | count(*) AS dup_count
             |FROM documents GROUP BY 1""".stripMargin)),

    Q("q35_dedup_minhash_lsh",
      (s, d) => Dedup.minhashLsh(T(s, d, "documents"), 8, 2, 0.8),
      Some(minhashPairCtes() + "\nSELECT a, b, jaccard FROM mh")),

    Q("q36_ngram_jaccard",
      (s, d) => Dedup.ngramJaccard(T(s, d, "documents"), 3, 0.8),
      Some("""WITH grams AS (
             |  SELECT DISTINCT doc_id, lang, source,
             |    substr(text, CAST(r.range AS INT), 3) AS tok
             |  FROM documents d JOIN range(1, 5000) r ON r.range <= length(d.text) - 2),
             |sizes AS (SELECT doc_id, count(*) AS sz
             |  FROM (SELECT DISTINCT doc_id, tok FROM grams) GROUP BY 1),
             |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
             |  FROM documents x JOIN documents y
             |    ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id),
             |inter AS (SELECT c.a, c.b, count(*) AS i
             |  FROM cand c JOIN (SELECT DISTINCT doc_id, tok FROM grams) ta ON ta.doc_id = c.a
             |  JOIN (SELECT DISTINCT doc_id, tok FROM grams) tb
             |    ON tb.doc_id = c.b AND tb.tok = ta.tok
             |  GROUP BY 1, 2)
             |SELECT c.a, c.b,
             |  floor(CAST(coalesce(i.i, 0) AS DOUBLE)
             |    / (sa.sz + sb.sz - coalesce(i.i, 0)) * 1000000) / 1000000 AS jaccard
             |FROM cand c
             |LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             |JOIN sizes sa ON sa.doc_id = c.a
             |JOIN sizes sb ON sb.doc_id = c.b
             |WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
             |    / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.8""".stripMargin)),

    Q("q37_simhash_neardups",
      (s, d) => Dedup.simhashNearDups(T(s, d, "documents"), 16),
      // Full cross-engine simhash: the 60-bit md5-derived token hash is
      // reconstructed digit-by-digit in SQL, so signatures, 15-bit chunk
      // buckets, candidates and hamming distances are all bit-identical.
      Some("""WITH toks AS (
             |  SELECT DISTINCT doc_id, tok FROM (
             |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents
             |  ) WHERE tok <> ''
             |),
             |th AS (
             |  SELECT doc_id, CAST(list_sum(list_transform(range(15),
             |    i -> (strpos('0123456789abcdef', substring(md5(tok), CAST(i AS INT)+1, 1)) - 1)::BIGINT
             |         << (4*(14-CAST(i AS INT))))) AS BIGINT) AS th
             |  FROM toks
             |),
             |votes AS (
             |  SELECT doc_id, CAST(b AS INT) AS b,
             |    sum(CASE WHEN (th >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             |  FROM th CROSS JOIN range(60) r(b) GROUP BY 1, 2
             |),
             |sig AS (
             |  SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
             |  FROM votes GROUP BY 1
             |),
             |chunks AS (
             |  SELECT doc_id, CAST(c AS INT) AS chunk, (simhash >> (15*CAST(c AS INT))) & 32767 AS key, simhash
             |  FROM sig CROSS JOIN range(4) r(c)
             |),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
             |  FROM chunks x JOIN chunks y ON x.chunk = y.chunk AND x.key = y.key AND x.doc_id < y.doc_id
             |)
             |SELECT a, b, bit_count(xor(sa, sb)) AS hamming
             |FROM cand WHERE bit_count(xor(sa, sb)) <= 16""".stripMargin)),

    Q("q40_quality_score",
      (s, d) => TextAnalysis.qualityScore(T(s, d, "documents")),
      Some("""SELECT doc_id,
             | CAST(length(text) AS BIGINT) AS n_chars_m,
             | CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             | round((
             |   (length(text) - length(replace(text, '.', ''))) / 1
             |   + (length(text) - length(replace(text, ',', ''))) / 1
             |   + (length(text) - length(replace(text, '!', ''))) / 1
             |   + (length(text) - length(replace(text, '?', ''))) / 1
             |   + (length(text) - length(replace(text, ';', ''))) / 1
             |   + (length(text) - length(replace(text, ':', ''))) / 1
             | )::DOUBLE / greatest(length(text)::DOUBLE, 1.0), 6) AS punct_ratio,
             | round((
             |   (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |   + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |   + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |   + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |   + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             | )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             | round(length(text)::DOUBLE
             |   / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             |FROM documents""".stripMargin)),

    Q("q41_lang_id",
      (s, d) => TextAnalysis.langId(T(s, d, "documents")),
      Some {
        def occ(pat: String): String = {
          val esc = pat.replace("'", "''")
          s"((length(' '||text||' ') - length(replace(' '||text||' ', '$esc', ''))) / ${pat.length})"
        }
        val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
          lang -> words.map(occ).mkString(" + ")
        }
        val keys = scores.map { case (lang, expr) =>
          s"lpad(CAST(CAST($expr AS BIGINT) AS VARCHAR), 10, '0') || '$lang'"
        }.mkString(", ")
        s"""SELECT doc_id,
           | substr(best, 11, 2) AS lang_pred,
           | CAST(substr(best, 1, 10) AS BIGINT) AS lang_score
           |FROM (SELECT doc_id, greatest($keys) AS best FROM documents)""".stripMargin
      }),

    Q("q42_token_counts",
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.tokenEstimate(col("text")).as("n_tokens_est"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe")),
      Some("""SELECT doc_id,
             | CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             | CAST(ceil(length(text)::DOUBLE / 4.0) AS BIGINT) AS n_tokens_est,
             | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpe
             |FROM documents""".stripMargin)),

    Q("q43_fingerprint",
      (s, d) => TextAnalysis.fingerprint(T(s, d, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(tl) AS tok, generate_subscripts(tl, 1) - 1 AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |grams AS (
             |  SELECT doc_id, pos, md5(tok || ' ' ||
             |    lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w) AS gram_hash,
             |    lead(tok, 2) OVER w AS g3
             |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |winmin AS (
             |  SELECT doc_id, min(gram_hash) OVER (PARTITION BY doc_id ORDER BY pos
             |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS win_min
             |  FROM grams WHERE g3 IS NOT NULL)
             |SELECT doc_id, count(DISTINCT win_min) AS n_fingerprints,
             |  min(win_min) AS min_fp
             |FROM winmin GROUP BY 1""".stripMargin)))

  // ---------------------------------------------------------------- similarity / multimodal
  private val simQs = Seq(
    Q("q38_ann_cosine_topk",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding"))
        Similarity.cosineTopK(emb, queries, 10)
      },
      Some("""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |q AS (SELECT vec_id AS query_id, v AS qv, i FROM f WHERE vec_id < 5),
             |dots AS (SELECT q.query_id, f.vec_id, sum(CAST(q.qv AS DOUBLE) * f.v) AS dp
             |  FROM q JOIN f ON q.i = f.i WHERE f.vec_id <> q.query_id GROUP BY 1, 2),
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |cos AS (SELECT d.query_id, d.vec_id,
             |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             |   ORDER BY cos DESC, vec_id) AS INT) AS rank FROM cos)
             |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 10""".stripMargin)),

    Q("q39_embedding_neardups",
      (s, d) => Similarity.bucketedNearDups(T(s, d, "embeddings"), 0.3),
      Some("""WITH f AS (SELECT vec_id, label, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
             |  FROM embeddings x JOIN embeddings y
             |    ON x.label = y.label AND x.vec_id < y.vec_id),
             |dots AS (SELECT p.a, p.b, sum(CAST(fa.v AS DOUBLE) * fb.v) AS dp
             |  FROM pairs p JOIN f fa ON fa.vec_id = p.a
             |  JOIN f fb ON fb.vec_id = p.b AND fb.i = fa.i
             |  GROUP BY 1, 2),
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1)
             |SELECT d.a, d.b, round(d.dp / (na.nrm * nb.nrm), 6) AS cos
             |FROM dots d JOIN norms na ON na.vec_id = d.a
             |JOIN norms nb ON nb.vec_id = d.b
             |WHERE round(d.dp / (na.nrm * nb.nrm), 6) >= 0.3""".stripMargin)),

    Q("q49_ann_ivf",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding"))
        Similarity.ivfTopK(emb, queries, 16, 10)
      },
      Some("""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |cf AS (SELECT vec_id AS cent_id, v AS cv, i FROM f WHERE vec_id < 16),
             |sim AS (SELECT f.vec_id, cf.cent_id, sum(CAST(f.v AS DOUBLE) * cf.cv) AS dp
             |  FROM f JOIN cf ON cf.i = f.i GROUP BY 1, 2),
             |asg AS (SELECT vec_id, cent_id AS cell FROM (
             |   SELECT s.vec_id, s.cent_id, row_number() OVER (PARTITION BY s.vec_id
             |     ORDER BY round(s.dp / (n1.nrm * n2.nrm), 6) DESC, s.cent_id) AS r
             |   FROM sim s JOIN norms n1 ON n1.vec_id = s.vec_id
             |   JOIN norms n2 ON n2.vec_id = s.cent_id) WHERE r = 1),
             |cand AS (SELECT q.vec_id AS query_id, a2.vec_id
             |  FROM (SELECT vec_id, cell FROM asg WHERE vec_id < 5) q
             |  JOIN asg a2 ON a2.cell = q.cell AND a2.vec_id <> q.vec_id),
             |dots AS (SELECT c.query_id, c.vec_id, sum(CAST(fq.v AS DOUBLE) * fc.v) AS dp
             |  FROM cand c JOIN f fq ON fq.vec_id = c.query_id
             |  JOIN f fc ON fc.vec_id = c.vec_id AND fc.i = fq.i
             |  GROUP BY 1, 2),
             |cos AS (SELECT d.query_id, d.vec_id, round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             |   ORDER BY cos DESC, vec_id) AS INT) AS rank FROM cos)
             |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 10""".stripMargin)),

    Q("q67_neardup_clusters",
      (s, d) => {
        // the dedup endgame: near-dup PAIRS → transitive closure → one
        // cluster id per vector (min member), singletons included — reuses
        // the connected-components operator on the pair graph
        val emb = T(s, d, "embeddings")
        val pairs = Similarity.bucketedNearDups(emb, 0.3)
          .select(col("a").as("src"), col("b").as("dst"))
        val vertices = emb.select(col("vec_id").as("id"))
        graft.graph.Analytics.connectedComponents(vertices, pairs)
          .select(col("id").as("vec_id"), col("component").as("cluster"))
      },
      Some("""WITH RECURSIVE f AS (SELECT vec_id, label, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
             |  FROM embeddings x JOIN embeddings y
             |    ON x.label = y.label AND x.vec_id < y.vec_id),
             |dots AS (SELECT p.a, p.b, sum(CAST(fa.v AS DOUBLE) * fb.v) AS dp
             |  FROM pairs p JOIN f fa ON fa.vec_id = p.a
             |  JOIN f fb ON fb.vec_id = p.b AND fb.i = fa.i
             |  GROUP BY 1, 2),
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |nd AS (SELECT d.a, d.b
             |  FROM dots d JOIN norms na ON na.vec_id = d.a
             |  JOIN norms nb ON nb.vec_id = d.b
             |  WHERE round(d.dp / (na.nrm * nb.nrm), 6) >= 0.3),
             |und(a, b) AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
             |nodes AS (SELECT vec_id AS id FROM embeddings),
             |r(s, id) AS (
             |  SELECT id, id FROM nodes
             |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id)
             |SELECT s AS vec_id, min(id) AS cluster FROM r GROUP BY s""".stripMargin)),

    Q("q44_multimodal_meta",
      (s, d) => Multimodal.ingest(T(s, d, "documents"))
        .select(col("media_id"), col("mime"), col("n_bytes"), col("checksum")),
      Some("""SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
             | CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS checksum
             |FROM documents""".stripMargin)),

    Q("q45_chunk_inventory",
      (s, d) => Multimodal.chunkInventory(Multimodal.ingest(T(s, d, "documents")), 64),
      Some("""SELECT doc_id AS media_id,
             | CAST(r.range AS BIGINT) AS chunk_idx,
             | CAST(r.range * 64 AS BIGINT) AS chunk_offset,
             | CAST(least(64, strlen(text) - r.range * 64) AS BIGINT) AS chunk_len
             |FROM documents d JOIN range(0, 100) r
             |  ON r.range <= CAST(ceil(strlen(text)::DOUBLE / 64) - 1 AS BIGINT)""".stripMargin)),

    Q("q59_asof_join",
      (s, d) => {
        val ev = events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            col("event_id").as("purchase_id"), col("value").as("purchase_value"))
        graft.ops.AsOf.joinBackward(clicks, purchases, "user_id", "ts")
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("click_ts"),
            col("asof_purchase_id").as("purchase_id"),
            col("asof_purchase_value").as("purchase_value"))
      },
      Some("""SELECT c.event_id, c.user_id,
             | CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts,
             | p.event_id AS purchase_id, p.value AS purchase_value
             |FROM (SELECT * FROM events WHERE event_type = 'click') c
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin)),

    Q("q60_range_join",
      (s, d) => {
        // price-band probe: every order against a deterministic 1% sample of
        // ±100 price intervals — bucketized interval join (equi-join on
        // bucket + exact refine), not BroadcastNestedLoop. The sparse
        // interval side keeps output ~|orders| (the dense self-match emits
        // 9M rows at sf0.1 — a different query, not a faster plan).
        val o = T(s, d, "orders")
        val points = o.select(col("o_orderkey").as("point_id"),
          col("o_totalprice").as("v"))
        val intervals = o.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey").as("interval_id"),
            (col("o_totalprice") - 100).as("lo"), (col("o_totalprice") + 100).as("hi"))
        graft.ops.RangeJoin.bucketed(points, intervals, "v", "lo", "hi", 200.0)
          .filter(col("point_id") =!= col("interval_id"))
          .select(col("point_id"), col("interval_id"))
      },
      Some("""SELECT p.o_orderkey AS point_id, i.o_orderkey AS interval_id
             |FROM orders p JOIN orders i
             |  ON p.o_totalprice >= i.o_totalprice - 100
             | AND p.o_totalprice <= i.o_totalprice + 100
             | AND p.o_orderkey <> i.o_orderkey
             |WHERE i.o_orderkey % 100 = 0""".stripMargin)),

    Q("q61_json_extract",
      (s, d) => {
        // semi-structured props column: schema-first from_json (codegen'd
        // struct access; no per-row path evaluation like get_json_object)
        val propsSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))
        events(s, d)
          .select(col("event_type"),
            from_json(col("props"), propsSchema).getField("k").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k"))
      },
      Some("""SELECT event_type, count(*) AS n,
             | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             | max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY 1""".stripMargin)),

    Q("q68_attribution_join",
      (s, d) => {
        val ev = events(s, d)
        EventStreams.attributionBatch(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
             |FROM (SELECT * FROM events WHERE event_type = 'click') c
             |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             | AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin)),

    Q("q46_window_events",
      (s, d) => EventStreams.windowedAgg(T(s, d, "events")),
      Some("""SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
             | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    Q("q47_sessionize",
      (s, d) => EventStreams.sessionizeBatch(T(s, d, "events"), 30),
      // NOTE: CAST(DOUBLE AS BIGINT) in DuckDB rounds; Spark's unix_timestamp
      // truncates — use floor(epoch(...)) everywhere for parity.
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |         OR CAST(floor(epoch(ts)) AS BIGINT)
             |            - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |numbered AS (
             |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
             |  FROM flagged)
             |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
             |  count(*) AS n_events, round(sum(value), 2) AS total_value
             |FROM numbered GROUP BY user_id, session_seq""".stripMargin)))

  // ---------------------------------------------------------------- collation
  // The IAST key is per-index independent (the reference's greedy digraph
  // lookup does NOT consume the matched second char — Iast.scala), so the
  // oracle can compute it as a pure list_transform over character positions.
  // The alphabet literal is generated from Iast.alphabet: one source of truth.
  private val iastAlphaSql: String =
    graft.expr.Iast.alphabet.map(a => s"'$a'").mkString("[", ",", "]")
  private val collationQs = Seq(
    Q("q48_iast_sortkey",
      (s, d) => {
        // rank materializes the collation ORDER into a value the oracle can
        // hash-check (the driver compare sorts rows, so bare ordering is
        // invisible to it). Global row_number = single-partition window —
        // fine for a ~10^4-row dropdown artifact; the scalable ordering op
        // is the native IastSortKey expression + orderBy itself.
        val w = Window.orderBy(col("key"), col("p_partkey"))
        T(s, d, "part")
          .select(col("p_partkey"), col("p_name"),
            graft.expr.Iast.iastKey(col("p_name")).as("key"))
          .select(row_number().over(w).cast("long").as("rank"),
            col("p_partkey"), col("p_name"))
      },
      Some(s"""WITH keyed AS (
             |  SELECT p_partkey, p_name,
             |    list_transform(range(length(lower(p_name))),
             |      i -> coalesce(
             |        CASE WHEN CAST(i AS INT)+2 <= length(lower(p_name))
             |             THEN nullif(list_position($iastAlphaSql, substring(lower(p_name), CAST(i AS INT)+1, 2)), 0) END,
             |        nullif(list_position($iastAlphaSql, substring(lower(p_name), CAST(i AS INT)+1, 1)), 0),
             |        50) - 1) AS key
             |  FROM part
             |)
             |SELECT CAST(row_number() OVER (ORDER BY key, p_partkey) AS BIGINT) AS rank, p_partkey, p_name
             |FROM keyed""".stripMargin)))

  // ---------------------------------------------------------------- round-2 extensions
  // Wider relational/analytical surface: multi-dim cube, ordered string agg,
  // calendar densification, rank-family windows, regression aggregates, a
  // deterministic HLL sketch (approximate op with an EXACT oracle — both
  // engines replay identical md5-derived register arithmetic), salted skew
  // join equivalence, vector centroids, heavy hitters, and two classic
  // TPC-H-shaped join pipelines for plan-quality benchmarking.
  private val extQs = Seq(
    Q("q69_cube_grouping",
      (s, d) => T(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             | round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),

    Q("q70_string_agg",
      (s, d) => T(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("c_name")))).as("names"),
          count(lit(1)).as("n")),
      Some("""SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names,
             | count(*) AS n
             |FROM customer GROUP BY 1""".stripMargin)),

    Q("q71_month_series",
      (s, d) => {
        // calendar densification: generate the full month spine, left-join
        // observed months, fill gaps with zeros (sequence() is per-row
        // codegen; the spine is tiny so the join broadcasts)
        val o = T(s, d, "orders")
        val bounds = o.agg(date_trunc("month", min(col("o_orderdate"))).as("lo"),
          date_trunc("month", max(col("o_orderdate"))).as("hi"))
        val months = bounds.select(
          explode(expr("sequence(lo, hi, interval 1 month)")).as("month"))
        val per = o.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("revenue"))
        months.join(per, Seq("month"), "left")
          .na.fill(0L, Seq("n_orders")).na.fill(0.0, Seq("revenue"))
          .select(unix_timestamp(col("month")).as("month"),
            col("n_orders"), col("revenue"))
      },
      Some("""WITH b AS (SELECT date_trunc('month', min(o_orderdate)) AS lo,
             |               date_trunc('month', max(o_orderdate)) AS hi FROM orders),
             |months AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM b),
             |per AS (SELECT date_trunc('month', o_orderdate) AS month,
             |   count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
             | FROM orders GROUP BY 1)
             |SELECT CAST(floor(epoch(m.month)) AS BIGINT) AS month,
             | coalesce(p.n_orders, 0) AS n_orders, coalesce(p.revenue, 0.0) AS revenue
             |FROM months m LEFT JOIN per p ON p.month = m.month""".stripMargin)),

    Q("q72_window_ranks",
      (s, d) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        // percent_rank/cume_dist are exact rationals k/n whose doubles can
        // land EXACTLY on a .xxxxxx5 rounding boundary (hit at sf0.1:
        // 0.5203125), where Spark rounds HALF_UP and DuckDB half-even —
        // floor of micro-units is tie-free (ties sit on integers, where
        // floor is the identity) and keeps 6-digit resolution
        T(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
          ntile(4).over(w).as("quartile"),
          (floor(percent_rank().over(w) * 1000000d) / 1000000d).as("pr"),
          (floor(cume_dist().over(w) * 1000000d) / 1000000d).as("cd"),
          dense_rank().over(w).cast("long").as("dr"))
      },
      Some("""SELECT c_custkey, c_nationkey,
             | ntile(4) OVER w AS quartile,
             | floor(percent_rank() OVER w * 1000000) / 1000000 AS pr,
             | floor(cume_dist() OVER w * 1000000) / 1000000 AS cd,
             | CAST(dense_rank() OVER w AS BIGINT) AS dr
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)""".stripMargin)),

    Q("q73_lag_delta",
      (s, d) => {
        val w = Window.partitionBy(col("l_partkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"),
          round(col("l_extendedprice") - lag(col("l_extendedprice"), 1).over(w), 2)
            .as("delta"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey,
             | round(l_extendedprice - lag(l_extendedprice, 1) OVER w, 2) AS delta
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_partkey
             |  ORDER BY l_shipdate, l_orderkey, l_linenumber)""".stripMargin)),

    Q("q74_regr_stats",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("cov"),
          round(stddev_samp(col("l_extendedprice")), 6).as("sd")),
      Some("""SELECT l_returnflag,
             | round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
             | round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
             | round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             | round(covar_samp(l_quantity, l_extendedprice), 6) AS cov,
             | round(stddev_samp(l_extendedprice), 6) AS sd
             |FROM lineitem GROUP BY 1""".stripMargin)),

    Q("q75_hll_distinct",
      (s, d) => {
        // HyperLogLog with md5-derived hashes: p=9 (512 registers), raw
        // estimate (no small/large-range correction). Every step — bucket,
        // leading-zero rank via bin(), register max, harmonic sum — is
        // integer-or-power-of-two exact, so the DuckDB oracle reproduces the
        // estimate bit-for-bit: an approximate operator with an exact test.
        // At 100 TB the same plan holds: one partial-agg shuffle of ≤512
        // rows per group.
        val li = T(s, d, "lineitem")
        val th = conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
          .cast("long")
        val reg = li.select(col("l_returnflag"), th.as("th"))
          .select(col("l_returnflag"), col("th").bitwiseAND(lit(511L)).as("bucket"),
            shiftright(col("th"), 9).as("rem"))
          .withColumn("rho",
            when(col("rem") === 0, lit(52)).otherwise(lit(52) - length(bin(col("rem")))))
          .groupBy(col("l_returnflag"), col("bucket")).agg(max(col("rho")).as("m"))
        val harm = reg.groupBy(col("l_returnflag"))
          .agg(sum(pow(lit(2.0), -col("m"))).as("s_present"),
            count(lit(1)).as("n_present"))
        val exact = li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        harm.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_exact"),
            round(lit(0.7213 / (1.0 + 1.079 / 512.0)) * lit(262144.0)
              / (col("s_present") + (lit(512L) - col("n_present")).cast("double")), 4)
              .as("hll_estimate"))
      },
      Some("""WITH th AS (SELECT l_returnflag,
             |  CAST(list_sum(list_transform(range(15),
             |    i -> (strpos('0123456789abcdef', substring(md5(CAST(l_orderkey AS VARCHAR)), CAST(i AS INT)+1, 1)) - 1)::BIGINT
             |         << (4*(14-CAST(i AS INT))))) AS BIGINT) AS th
             |  FROM lineitem),
             |reg AS (SELECT l_returnflag, th & 511 AS bucket,
             |  CASE WHEN (th >> 9) = 0 THEN 52 ELSE 52 - length(bin(th >> 9)) END AS rho
             | FROM th),
             |mx AS (SELECT l_returnflag, bucket, max(rho) AS m FROM reg GROUP BY 1, 2),
             |hs AS (SELECT l_returnflag, sum(pow(2.0, -m)) AS s_present, count(*) AS n_present
             | FROM mx GROUP BY 1),
             |ex AS (SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact FROM lineitem GROUP BY 1)
             |SELECT hs.l_returnflag, ex.n_exact,
             | round((0.7213/(1.0+1.079/512.0)) * 262144.0
             |   / (hs.s_present + CAST(512 - hs.n_present AS DOUBLE)), 4) AS hll_estimate
             |FROM hs JOIN ex ON ex.l_returnflag = hs.l_returnflag""".stripMargin)),

    Q("q76_skew_salted_join",
      (s, d) => {
        // the salted join must be row-equivalent to the plain join — the
        // oracle IS the plain join, so the equivalence is driver-checked
        val li = T(s, d, "lineitem").withColumnRenamed("l_suppkey", "suppkey")
        val sup = T(s, d, "supplier").withColumnRenamed("s_suppkey", "suppkey")
        graft.ops.SkewJoin.salted(li, sup, "suppkey", 8)
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("volume"))
      },
      Some("""SELECT s_name, count(*) AS n, round(sum(l_extendedprice), 2) AS volume
             |FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
             |GROUP BY 1""".stripMargin)),

    Q("q77_vector_centroid",
      (s, d) => {
        // per-label elementwise mean of 64-dim float vectors; surfaced as
        // integer micro-units joined to a string (array formatting and float
        // rendering differ across engines; integers are portable)
        val emb = T(s, d, "embeddings")
        val per = emb.select(col("label"), posexplode(col("embedding")))
          .groupBy(col("label"), col("pos")).agg(avg(col("col")).as("m"))
        val cent = per.groupBy(col("label"))
          .agg(concat_ws(",",
            transform(array_sort(collect_list(struct(col("pos"), col("m")))),
              x => round(x.getField("m") * 1000000.0, 0).cast("long"))).as("centroid_micro"))
        val n = emb.groupBy(col("label")).agg(count(lit(1)).as("n_vectors"))
        cent.join(n, Seq("label")).select(col("label"), col("n_vectors"), col("centroid_micro"))
      },
      Some("""WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
             |   CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
             |per AS (SELECT label, pos, avg(v) AS m FROM ex GROUP BY 1, 2),
             |cent AS (SELECT label,
             |   array_to_string(list(CAST(round(m * 1000000.0, 0) AS BIGINT) ORDER BY pos), ',') AS centroid_micro
             | FROM per GROUP BY 1),
             |n AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY 1)
             |SELECT cent.label, n.n_vectors, cent.centroid_micro
             |FROM cent JOIN n ON n.label = cent.label""".stripMargin)),

    Q("q78_heavy_hitters",
      (s, d) => Dedup.tokens(T(s, d, "documents"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok")).limit(20),
      Some("""SELECT tok, count(*) AS df FROM (
             |  SELECT DISTINCT doc_id, tok FROM (
             |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents
             |  ) WHERE tok <> ''
             |) GROUP BY tok ORDER BY df DESC, tok LIMIT 20""".stripMargin)),

    Q("q79_shipping_priority",
      (s, d) => {
        // TPC-H Q3 shape: selective dim filter broadcast into the fact join,
        // aggregate, top-10 via TakeOrderedAndProject (no global sort)
        val cut = "1997-06-01"
        val c = T(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = T(s, d, "orders").filter(col("o_orderdate") < lit(cut).cast("timestamp"))
        val l = T(s, d, "lineitem").filter(col("l_shipdate") > lit(cut).cast("timestamp"))
        // no forced broadcast: customer/orders scale with SF, so the hint
        // would OOM a 100 TB driver — at test scale AQE still picks BHJ
        // (both sides are under the auto threshold), at cluster scale it
        // degrades gracefully to sort-merge with runtime skew handling
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
          .select(col("l_orderkey"), col("revenue"),
            unix_timestamp(col("o_orderdate")).as("odate"), col("o_orderpriority"))
      },
      Some("""SELECT l_orderkey,
             | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             | CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate, o_orderpriority
             |FROM customer
             |JOIN orders ON o_custkey = c_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1997-06-01'
             |  AND l_shipdate > TIMESTAMP '1997-06-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    Q("q80_local_supplier_volume",
      (s, d) => {
        // TPC-H Q5 shape: 6-way join, small dims broadcast, one shuffle for
        // the fact-fact join plus one for the final aggregation
        val c = T(s, d, "customer"); val o = T(s, d, "orders")
        val l = T(s, d, "lineitem"); val sup = T(s, d, "supplier")
        val n = T(s, d, "nation"); val r = T(s, d, "region")
        // broadcast hints only on BOUNDED dims (nation/region have fixed
        // cardinality at any SF); customer/supplier/orders scale with the
        // data, so their join strategy is left to AQE — BHJ here, SMJ at
        // cluster scale
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(sup,
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r.filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
      },
      Some("""SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |GROUP BY n_name""".stripMargin)))

  // PageRank over the customer→nation→region DAG (regions are dangling and
  // exercise the dangling-mass redistribution). Fixed 20 rounds → the oracle
  // replays every round: dangling scalar + contrib join + update, all
  // MATERIALIZED (each stage is referenced multiple times).
  private def pageRankOracle: String = {
    val d = "0.85"
    val stages = (1 to 20).map { k =>
      val prev = if (k == 1) "x0" else s"x${k - 1}"
      s"""dang$k AS MATERIALIZED (
         |  SELECT coalesce(sum(x.score), 0.0) AS dm FROM $prev x JOIN deg USING (id) WHERE deg.outdeg = 0),
         |x$k AS MATERIALIZED (
         |  SELECT x.id, ((1.0 - $d)/CAST(nn.n AS DOUBLE)) + $d * (coalesce(c.inc, 0.0) + dd.dm/CAST(nn.n AS DOUBLE)) AS score
         |  FROM $prev x LEFT JOIN (
         |    SELECT e.dst AS id, sum(y.score / deg.outdeg) AS inc
         |    FROM e JOIN $prev y ON y.id = e.src JOIN deg ON deg.id = e.src GROUP BY e.dst
         |  ) c ON c.id = x.id, dang$k dd, nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT c_custkey AS src, 10000000 + CAST(c_nationkey AS BIGINT) AS dst FROM customer
       |  UNION ALL
       |  SELECT 10000000 + CAST(n_nationkey AS BIGINT) AS src, 20000000 + CAST(n_regionkey AS BIGINT) AS dst FROM nation),
       |v AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM v),
       |deg AS MATERIALIZED (SELECT v.id, coalesce(o.c, 0) AS outdeg FROM v LEFT JOIN (SELECT src AS id, count(*) AS c FROM e GROUP BY 1) o ON o.id = v.id),
       |x0 AS MATERIALIZED (SELECT id, 1.0/CAST(nn.n AS DOUBLE) AS score FROM v, nn),
       |$stages
       |SELECT id, round(score, 8) AS score FROM x20""".stripMargin
  }

  private val ext2Qs = Seq(
    Q("q81_pagerank",
      (s, d) => {
        val c = T(s, d, "customer").select(col("c_custkey").as("src"),
          (col("c_nationkey").cast("long") + 10000000L).as("dst"))
        val n = T(s, d, "nation").select(
          (col("n_nationkey").cast("long") + 10000000L).as("src"),
          (col("n_regionkey").cast("long") + 20000000L).as("dst"))
        val e = c.unionByName(n)
        val v = e.select(col("src").as("id"))
          .unionByName(e.select(col("dst").as("id"))).distinct()
        graft.graph.Centrality.pageRank(v, e, iters = 20, damping = 0.85)
          .select(col("id"), round(col("score"), 8).as("score"))
      },
      Some(pageRankOracle)),

    Q("q82_full_outer",
      (s, d) => {
        // full outer with both-sides-missing rows: left = a key-range slice
        // of customers, right = per-customer order rollup
        val c = T(s, d, "customer").filter(col("c_custkey") % 3 =!= 0)
          .select(col("c_custkey").as("custkey"), col("c_acctbal"))
        val o = T(s, d, "orders").groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("n_orders"))
        c.join(o, Seq("custkey"), "full_outer")
          .select(col("custkey"),
            col("c_acctbal").isNotNull.as("has_customer"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      },
      Some("""SELECT coalesce(c.custkey, o.custkey) AS custkey,
             | c.custkey IS NOT NULL AS has_customer,
             | coalesce(o.n_orders, 0) AS n_orders
             |FROM (SELECT c_custkey AS custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0) c
             |FULL OUTER JOIN (SELECT o_custkey AS custkey, count(*) AS n_orders
             |                 FROM orders GROUP BY 1) o
             |  ON o.custkey = c.custkey""".stripMargin)),

    Q("q83_deterministic_sample",
      (s, d) => {
        // reproducible per-group sampling: order by a content hash, take k.
        // Unlike rand()-based sampling this is stable across retries,
        // partitionings and engines — the property that makes sampled
        // pipelines auditable (and oracle-checkable).
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
        T(s, d, "customer")
          .select(col("c_nationkey"), col("c_custkey"),
            row_number().over(w).as("rk"))
          .filter(col("rk") <= 3)
      },
      Some("""SELECT c_nationkey, c_custkey,
             | CAST(row_number() OVER (PARTITION BY c_nationkey
             |   ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS INT) AS rk
             |FROM customer
             |QUALIFY rk <= 3""".stripMargin)),

    Q("q84_null_safe_join",
      (s, d) => {
        // null-safe equality (<=>): NULL keys match each other instead of
        // dropping out — the semantics dedup pipelines want when "missing"
        // is itself a join value
        val l = T(s, d, "lineitem")
          .select(nullif(col("l_returnflag"), lit("N")).as("f"), col("l_quantity"))
        val dim = T(s, d, "lineitem").select(col("l_returnflag")).distinct()
          .select(nullif(col("l_returnflag"), lit("N")).as("f"),
            coalesce(col("l_returnflag"), lit("?")).as("label"))
        l.join(dim, l("f") <=> dim("f"))
          .groupBy(col("label")).agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("qty"))
      },
      Some("""SELECT dim.label, count(*) AS n, round(sum(l.l_quantity), 2) AS qty
             |FROM (SELECT nullif(l_returnflag, 'N') AS f, l_quantity FROM lineitem) l
             |JOIN (SELECT nullif(l_returnflag, 'N') AS f, l_returnflag AS label
             |      FROM (SELECT DISTINCT l_returnflag FROM lineitem)) dim
             |  ON l.f IS NOT DISTINCT FROM dim.f
             |GROUP BY 1""".stripMargin)),

    Q("q85_sql_exists",
      (s, d) => {
        // the SQL entry point (spark.sql) with correlated EXISTS/NOT EXISTS —
        // Catalyst rewrites these to semi/anti joins; .explain shows no
        // correlated subquery execution
        T(s, d, "orders").createOrReplaceTempView("q85_orders")
        T(s, d, "lineitem").createOrReplaceTempView("q85_lineitem")
        s.sql("""SELECT o_orderkey, o_totalprice FROM q85_orders o
                |WHERE EXISTS (SELECT 1 FROM q85_lineitem l
                |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
                |  AND NOT EXISTS (SELECT 1 FROM q85_lineitem l
                |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
                |""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l
             |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')""".stripMargin)),

    Q("q86_hopping_window",
      (s, d) => {
        // hopping (sliding) windows: 10-min duration, 5-min slide — every
        // event lands in exactly two windows; Spark's window() generator
        // vs the oracle's two shifted tumbling bucketings
        val e = T(s, d, "events")
        e.groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select(unix_timestamp(col("window.start")).as("wstart"),
            col("event_type"), col("n"), col("sum_value"))
      },
      Some("""WITH exploded AS (
             |  SELECT CAST(floor((epoch(ts) - off) / 600) * 600 + off AS BIGINT) AS wstart,
             |    event_type, value
             |  FROM events CROSS JOIN (SELECT unnest([0, 300]) AS off))
             |SELECT wstart, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM exploded GROUP BY 1, 2""".stripMargin)),

    Q("q87_moving_avg",
      (s, d) => {
        // explicit ROWS frame (vs q30's default running frame): 7-row
        // trailing moving average per part over a total order
        val w = Window.partitionBy(col("l_partkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(-6, Window.currentRow)
        T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"),
          round(avg(col("l_extendedprice")).over(w), 4).as("mavg"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey,
             | round(avg(l_extendedprice) OVER (PARTITION BY l_partkey
             |   ORDER BY l_shipdate, l_orderkey, l_linenumber
             |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS mavg
             |FROM lineitem""".stripMargin)),

    Q("q88_grouping_sets",
      (s, d) => {
        // explicit GROUPING SETS (neither cube nor rollup): one pass, three
        // grouping combinations, disambiguated by grouping_id
        T(s, d, "lineitem").createOrReplaceTempView("q88_lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  CAST(grouping_id() AS BIGINT) AS gid,
                |  count(*) AS n, round(sum(l_quantity), 2) AS qty
                |FROM q88_lineitem
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             | count(*) AS n, round(sum(l_quantity), 2) AS qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)),

    Q("q89_forward_fill",
      (s, d) => {
        // gap fill: carry the last non-null observation forward
        // (last+ignoreNulls over an unbounded-preceding frame — the
        // windowed form of the as-of join's fill step)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T(s, d, "events")
          .withColumn("click_value",
            when(col("event_type") === "click", col("value")))
          .select(col("event_id"), col("user_id"),
            round(last(col("click_value"), ignoreNulls = true).over(w), 2)
              .as("filled"))
      },
      Some("""SELECT event_id, user_id,
             | round(last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
             |   OVER (PARTITION BY user_id ORDER BY ts, event_id
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled
             |FROM events""".stripMargin)))

  // ---------------------------------------------------------------- round-2 extensions (batch 2)
  // Triangle counting (degree-oriented), fixed-round weighted SSSP, sparse
  // TF-IDF similarity via inverted index, bloom-pruned semi join, z-score
  // outlier detection, and one-pass schema-driven column profiling.

  /** Unrolled fixed-round Bellman-Ford oracle ([[graft.graph.Analytics.sssp]]
    * semantics): each stage MATERIALIZED — it is referenced twice (carry +
    * relax) and inlining would square the plan per round. */
  private val ssspRounds = 6
  private val ssspOracle: String = {
    val base =
      """WITH und AS (
        |  SELECT a, b, (a + b) % 9 + 1 AS w FROM (
        |    SELECT DISTINCT l_partkey AS a, 1000000 + l_suppkey AS b FROM lineitem
        |    UNION SELECT 1000000 + l_suppkey, l_partkey FROM lineitem)),
        |d0 AS (SELECT min(l_partkey) AS id, CAST(0 AS BIGINT) AS dist FROM lineitem)""".stripMargin
    val stages = (1 to ssspRounds).map { k =>
      s"""d$k AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
         |  SELECT id, dist FROM d${k - 1}
         |  UNION ALL
         |  SELECT u.b AS id, p.dist + u.w AS dist
         |  FROM d${k - 1} p JOIN und u ON u.a = p.id) GROUP BY id)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"\nSELECT id, CAST(dist AS BIGINT) AS dist FROM d$ssspRounds"
  }

  /** Unrolled fixed-round k-core peel oracle ([[graft.graph.Analytics.kcore]]
    * semantics, k=3, 8 rounds over the co-purchase-≥2 part graph). */
  private val kcoreOracle: String = {
    val rounds = 8
    val base =
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |n0 AS (SELECT DISTINCT a AS id FROM und)""".stripMargin
    val stages = (1 to rounds).map { r =>
      s"""n$r AS MATERIALIZED (SELECT u.a AS id FROM und u
         |  JOIN n${r - 1} pa ON u.a = pa.id JOIN n${r - 1} pb ON u.b = pb.id
         |  GROUP BY u.a HAVING count(*) >= 3)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"""
         |SELECT u.a AS id, CAST(count(*) AS BIGINT) AS deg FROM und u
         |  JOIN n$rounds pa ON u.a = pa.id JOIN n$rounds pb ON u.b = pb.id
         |  GROUP BY u.a""".stripMargin
  }

  /** Columns profiled by q95 (no floating-point columns: double→string
    * rendering is engine-specific; dates/ints/strings are byte-identical). */
  private val profileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_orderdate", "o_orderpriority")

  private val ext3Qs = Seq(
    Q("q90_triangle_count",
      (s, d) => {
        // co-purchase graph: parts are adjacent iff they appear in the same
        // order; global triangle count via degree orientation (the id-ordered
        // 3-way join the oracle uses counts identically but its wedge stage
        // explodes on hub nodes — orientation is the 100 TB-safe form)
        val e = copurchasePairs(s, d).select(col("a"), col("b"))
        graft.graph.Analytics.triangleCount(e)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             |e AS (SELECT DISTINCT x.p AS a, y.p AS b
             |      FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p)
             |SELECT CAST(count(*) AS BIGINT) AS n_triangles
             |FROM e e1 JOIN e e2 ON e2.a = e1.b
             |          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin)),

    Q("q91_sssp_weighted",
      (s, d) => {
        // weighted shortest paths on the undirected part↔supplier graph,
        // deterministic integer weights, fixed 6 relaxation rounds
        // checkpoint the derived edge relation once — the vertex count and
        // the local-path collect (or each distributed round) all rescan it,
        // and both union branches re-run the distinct without it. The
        // undirected doubling itself stays lazy: a union+projection over the
        // checkpointed base is cheaper per rescan than materializing a
        // second checkpoint twice the size
        val e0 = FreshCheckpoint(psEdges(s, d))
        val und = e0
          .unionByName(e0.select(col("b").as("a"), col("a").as("b")))
          .withColumn("w", (col("a") + col("b")) % 9 + 1)
        val seed = T(s, d, "lineitem").agg(min(col("l_partkey"))).head().getLong(0)
        graft.graph.Analytics.sssp(und, seed, ssspRounds)
          .select(col("id"), col("dist"))
      },
      Some(ssspOracle)),

    Q("q92_tfidf_pairs",
      (s, d) => graft.ops.TextAnalysis.tfidfPairs(
        T(s, d, "documents"), dfCap = 25, threshold = 0.3),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '')) AS tok FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1
             |        HAVING count(*) BETWEEN 2 AND 25),
             |w AS (SELECT tf.doc_id, tf.tok,
             |        tf.tf * CAST(floor(1000.0 * (SELECT count(*) FROM documents) / dft.df)
             |          AS BIGINT) AS w
             |      FROM tf JOIN dft USING (tok)),
             |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS ssq FROM w GROUP BY 1),
             |dots AS (SELECT x.doc_id AS a, y.doc_id AS b,
             |           CAST(sum(x.w * y.w) AS BIGINT) AS dot
             |         FROM w x JOIN w y ON x.tok = y.tok AND x.doc_id < y.doc_id
             |         GROUP BY 1, 2)
             |SELECT a, b, round(dot / (sqrt(na.ssq) * sqrt(nb.ssq)), 6) AS cos
             |FROM dots JOIN norms na ON na.doc_id = a JOIN norms nb ON nb.doc_id = b
             |WHERE dot / (sqrt(na.ssq) * sqrt(nb.ssq)) >= 0.3""".stripMargin)),

    Q("q93_bloom_semi_join",
      (s, d) => {
        // bloom-pruned semi join: probe side filtered by a broadcast bloom
        // of the build keys BEFORE its shuffle; exact semi join cleans up
        // false positives → result ≡ plain semi join (equivalence oracle)
        val pruned = graft.ops.BloomJoin.prunedSemiJoin(
          T(s, d, "lineitem"), "l_suppkey",
          T(s, d, "supplier").filter(col("s_acctbal") > 5000.0), "s_suppkey",
          expectedNumItems = 100000L, fpp = 0.01)
        pruned.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      },
      Some("""SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
             |FROM lineitem
             |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000.0)
             |GROUP BY 1""".stripMargin)),

    Q("q94_zscore_outliers",
      (s, d) => {
        // anomaly detection: per-group z-score over the events stream's value
        // column (heavy-tailed — the TPC-H price columns are bounded-uniform,
        // |z| ≤ √3, and can never have 3σ outliers), flag |z| > 3
        // (unbounded window frame = whole-group moments in one pass)
        val w = Window.partitionBy(col("event_type"))
        val z = (col("value") - avg(col("value")).over(w)) /
          stddev_samp(col("value")).over(w)
        T(s, d, "events")
          .select(col("event_id"), col("event_type"), z.as("zraw"))
          .filter(abs(col("zraw")) > 3.0)
          .select(col("event_id"), col("event_type"), round(col("zraw"), 4).as("z"))
      },
      Some("""SELECT event_id, event_type, round(z, 4) AS z FROM (
             |  SELECT event_id, event_type,
             |    (value - avg(value) OVER w) / stddev_samp(value) OVER w AS z
             |  FROM events WINDOW w AS (PARTITION BY event_type))
             |WHERE abs(z) > 3.0""".stripMargin)),

    Q("q96_multimodal_features",
      (s, d) => {
        // the multimodal decode path END-TO-END hash-checked: binary ingest →
        // mapPartitions decode (ByteFoldDecoder: integer byte-fold — a
        // deterministic stand-in for a real codec with identical plumbing) →
        // long-format features. Oracle replays the byte-fold as char
        // arithmetic (corpus is ASCII, so byte index ≡ char index).
        Multimodal.extractFeaturesLong(Multimodal.ingest(T(s, d, "documents")))
          .select(col("media_id"),
            posexplode(col("features")).as(Seq("k", "f")))
          .select(col("media_id"), col("k").cast("long").as("k"), col("f"))
      },
      Some("""WITH pos AS (SELECT doc_id, text,
             |    unnest(range(1, strlen(text) + 1)) AS i FROM documents)
             |SELECT doc_id AS media_id, CAST((i - 1) % 8 AS BIGINT) AS k,
             | CAST(sum(ord(substr(text, CAST(i AS INT), 1))) AS BIGINT) AS f
             |FROM pos GROUP BY 1, 2""".stripMargin)),

    Q("q97_kcore",
      (s, d) => {
        // product-affinity core: parts co-purchased in ≥2 distinct orders
        // form the edge set; 3-core by fixed-round synchronous peeling.
        // (The parquet-backed memo replaces the old FreshCheckpoint — a scan
        // is already lineage-free, both union branches rescan it cheaply.)
        val e = copurchasePairs(s, d).filter(col("cnt") >= 2)
          .select(col("a"), col("b"))
        val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
        graft.graph.Analytics.kcore(und, k = 3, rounds = 8)
      },
      Some(kcoreOracle)),

    Q("q98_ann_lsh",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding"))
        Similarity.lshTopK(emb, queries, nPlanes = 6, dim = 64, k = 10)
      },
      Some("""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |fi AS (SELECT vec_id, i,
             |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS iv FROM f),
             |planes AS (SELECT p, d,
             |   (list_sum(list_transform(range(15), j ->
             |      CAST(strpos('0123456789abcdef', substr(md5(p || ':' || d), CAST(j + 1 AS INT), 1)) - 1
             |        AS BIGINT) * (1::BIGINT << CAST(4 * (14 - j) AS INT)))) % 2001) - 1000 AS h
             |  FROM range(6) t(p), range(64) s(d)),
             |proj AS (SELECT fi.vec_id, pl.p, sum(fi.iv * pl.h) AS pr
             |  FROM fi JOIN planes pl ON pl.d = fi.i - 1 GROUP BY 1, 2),
             |sig AS (SELECT vec_id,
             |   CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS sig
             |  FROM proj GROUP BY 1),
             |cand AS (SELECT qs.vec_id AS query_id, cs.vec_id
             |  FROM (SELECT * FROM sig WHERE vec_id < 5) qs
             |  JOIN sig cs ON cs.sig = qs.sig AND cs.vec_id <> qs.vec_id),
             |dots AS (SELECT c.query_id, c.vec_id, sum(CAST(fq.v AS DOUBLE) * fc.v) AS dp
             |  FROM cand c JOIN f fq ON fq.vec_id = c.query_id
             |  JOIN f fc ON fc.vec_id = c.vec_id AND fc.i = fq.i
             |  GROUP BY 1, 2),
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |cos AS (SELECT d.query_id, d.vec_id, round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             |   ORDER BY cos DESC, vec_id) AS INT) AS rank FROM cos)
             |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 10""".stripMargin)),

    Q("q95_profile_columns",
      (s, d) => {
        // schema-driven data profiling: null counts, exact distinct counts,
        // min/max per column — ONE scan (a single wide agg, then stack to
        // rows), vs the oracle's per-column UNION ALL passes
        val o = T(s, d, "orders")
        val aggs = profileCols.flatMap(c => Seq(
          count(col(c)).as(s"${c}__nn"),
          countDistinct(col(c)).as(s"${c}__nd"),
          min(col(c)).cast("string").as(s"${c}__mn"),
          max(col(c)).cast("string").as(s"${c}__mx")))
        val one = o.agg(count(lit(1)).as("__total"), aggs: _*)
        one.select(expr(s"stack(${profileCols.length}, " + profileCols.map(c =>
          s"'$c', __total - ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx").mkString(", ") +
          ") as (column_name, n_nulls, n_distinct, min_s, max_s)"))
      },
      Some(profileCols.map(c =>
        s"""SELECT '$c' AS column_name,
           | (SELECT count(*) FROM orders) - count($c) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
           |FROM orders""".stripMargin).mkString("\nUNION ALL\n"))))

  // ---------------------------------------------------------------- round-2 extensions (batch 3)
  // Sessional/temporal analytics (gaps-and-islands, ordered funnel, cohort
  // retention, sliding-range velocity, interval-overlap sweep line, Markov
  // transitions), edit-distance blocking dedup, deterministic arg_max/mode/
  // median, multiset EXCEPT ALL, weighted bipartite projection, and
  // per-vertex clustering coefficients.
  private val ext4Qs = Seq(
    Q("q99_gaps_islands",
      (s, d) => {
        // gaps-and-islands: maximal runs of consecutive same-type events per
        // user. Island key = rn(user) − rn(user, type): constant within a
        // run, distinct across runs — two window passes sharing one
        // (user_id)-shuffle, no self-join. Total order pinned by (ts,
        // event_id) so both engines segment identically.
        val w1 = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val w2 = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        T(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
            (row_number().over(w1) - row_number().over(w2)).as("grp"))
          .groupBy(col("user_id"), col("event_type"), col("grp"))
          .agg(count(lit(1)).as("run_len"),
            min(unix_timestamp(col("ts"))).as("t_start"),
            max(unix_timestamp(col("ts"))).as("t_end"))
          .filter(col("run_len") >= 3)
          .select(col("user_id"), col("event_type"), col("run_len"),
            col("t_start"), col("t_end"))
      },
      Some("""WITH r AS (SELECT user_id, event_type, ts, event_id,
             |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |  - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
             | FROM events)
             |SELECT user_id, event_type, count(*) AS run_len,
             | CAST(floor(epoch(min(ts))) AS BIGINT) AS t_start,
             | CAST(floor(epoch(max(ts))) AS BIGINT) AS t_end
             |FROM r GROUP BY user_id, event_type, grp
             |HAVING count(*) >= 3""".stripMargin)),

    Q("q100_funnel",
      (s, d) => {
        // strict ordered funnel view → click → purchase: each stage's first
        // timestamp must follow the previous stage's. Three stage aggs, each
        // a groupBy on user_id (the later stages join the previous stage's
        // user-sized result — broadcast at dimension scale, shuffle-on-key
        // beyond). NULL stage = user never reached it.
        val ev = T(s, d, "events")
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val c = ev.filter(col("event_type") === "click").as("e")
          .join(v.as("v"), col("e.user_id") === col("v.user_id"))
          .filter(col("e.ts") > col("v.t1"))
          .groupBy(col("e.user_id").as("user_id")).agg(min(col("e.ts")).as("t2"))
        val p = ev.filter(col("event_type") === "purchase").as("e")
          .join(c.as("c"), col("e.user_id") === col("c.user_id"))
          .filter(col("e.ts") > col("c.t2"))
          .groupBy(col("e.user_id").as("user_id")).agg(min(col("e.ts")).as("t3"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .select(col("user_id"),
            unix_timestamp(col("t1")).as("t_view"),
            unix_timestamp(col("t2")).as("t_click"),
            unix_timestamp(col("t3")).as("t_purchase"))
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
             |          WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
             |      JOIN v ON v.user_id = e.user_id
             |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
             |      JOIN c ON c.user_id = e.user_id
             |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
             |SELECT v.user_id,
             | CAST(floor(epoch(v.t1)) AS BIGINT) AS t_view,
             | CAST(floor(epoch(c.t2)) AS BIGINT) AS t_click,
             | CAST(floor(epoch(p.t3)) AS BIGINT) AS t_purchase
             |FROM v LEFT JOIN c ON c.user_id = v.user_id
             |LEFT JOIN p ON p.user_id = v.user_id""".stripMargin)),

    Q("q101_cohort_retention",
      (s, d) => {
        // cohort retention matrix: cohort = month of first order, age =
        // months since cohort; integer month index (y*12+m) keeps the
        // arithmetic exact in both engines. Two shuffles (per-customer min,
        // then matrix agg); the cohort attach joins on the aggregation key.
        val ym = year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
        val o = T(s, d, "orders").select(col("o_custkey"), ym.as("ym"))
        val cohort = o.groupBy(col("o_custkey")).agg(min(col("ym")).as("cohort"))
        o.join(cohort, Seq("o_custkey"))
          .groupBy(col("cohort"), (col("ym") - col("cohort")).as("age"))
          .agg(countDistinct(col("o_custkey")).as("n_customers"))
          .select(col("cohort").cast("long").as("cohort"),
            col("age").cast("long").as("age"), col("n_customers"))
      },
      Some("""WITH o AS (SELECT o_custkey,
             |   CAST(EXTRACT(year FROM o_orderdate) * 12 + EXTRACT(month FROM o_orderdate) AS BIGINT) AS ym
             | FROM orders),
             |cohort AS (SELECT o_custkey, min(ym) AS cohort FROM o GROUP BY 1)
             |SELECT c.cohort, o.ym - c.cohort AS age,
             | count(DISTINCT o.o_custkey) AS n_customers
             |FROM o JOIN cohort c ON c.o_custkey = o.o_custkey
             |GROUP BY 1, 2""".stripMargin)),

    Q("q102_levenshtein_pairs",
      (s, d) => {
        // edit-distance near-dup pairs via Pass-Join segment filtering
        // (ops/Dedup.editDistancePairs, r14): candidates enumerated by an
        // equi-join on (brand, aligned-segment key) with the shift-window
        // and char-histogram count filters riding the join condition —
        // never a per-block cross product, no corpus-wide gram-frequency
        // pass, no per-string rank window (the pre-r14 Ed-Join prefix
        // scheme needed both and its rare-gram buckets collapsed on the
        // templated names: 171M candidates at sf1 vs 21M for the segment
        // keys, q102 33.3 → 13.7 s same-box). Verification stays the
        // threshold DP (levenshtein 3-arg early-abandons at > 2). No
        // corpus-scale knob: the segment witness is exact, so nothing
        // needs re-tuning as data grows (the old q knob did).
        Dedup.editDistancePairs(
          T(s, d, "part"), "p_partkey", "p_name", Seq("p_brand"), maxDist = 2)
          .select(col("pa"), col("pb"), col("dist"))
      },
      Some("""SELECT a.p_partkey AS pa, b.p_partkey AS pb,
             | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
             |FROM part a JOIN part b
             | ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
             | AND abs(strlen(a.p_name) - strlen(b.p_name)) <= 2
             |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin)),

    Q("q103_arg_max",
      (s, d) => {
        // deterministic arg_max/arg_min: the ordering key folds the unique
        // row id into the value (acctbal·1e8 + custkey — integer-valued
        // doubles well under 2^53, so both engines order identically; ties
        // on the raw value break by key). One partial-aggregable shuffle —
        // no window, no self-join.
        val key = col("c_acctbal") * 100000000d + col("c_custkey")
        T(s, d, "customer")
          .groupBy(col("c_nationkey"))
          .agg(max_by(col("c_name"), key).as("richest"),
            min_by(col("c_name"), key).as("poorest"),
            round(max(col("c_acctbal")), 2).as("max_bal"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT c_nationkey,
             | arg_max(c_name, c_acctbal * 100000000 + c_custkey) AS richest,
             | arg_min(c_name, c_acctbal * 100000000 + c_custkey) AS poorest,
             | round(max(c_acctbal), 2) AS max_bal, count(*) AS n
             |FROM customer GROUP BY 1""".stripMargin)),

    Q("q104_max_concurrency",
      (s, d) => {
        // peak concurrency via sweep line: each event spans [t, t+floor(value)]
        // seconds; +1/−1 deltas, running sum over a pinned total order
        // (t, delta, event_id — ends sort before starts at the same instant,
        // so touching intervals don't overlap), max per type. One shuffle on
        // event_type; at scale the partition key would gain a time-bucket
        // dimension with boundary merge, same operator shape.
        val ev = T(s, d, "events").select(col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("t"),
          floor(col("value")).cast("long").as("dur"))
        val pts = ev.select(col("event_type"), col("t"),
            lit(1L).as("delta"), col("event_id"))
          .unionByName(ev.select(col("event_type"),
            (col("t") + col("dur")).as("t"), lit(-1L).as("delta"), col("event_id")))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("t"), col("delta"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pts.select(col("event_type"), sum(col("delta")).over(w).as("c"))
          .groupBy(col("event_type")).agg(max(col("c")).as("peak"))
      },
      Some("""WITH pts AS (
             | SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |        1 AS delta, event_id FROM events
             | UNION ALL
             | SELECT event_type,
             |        CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT),
             |        -1, event_id FROM events)
             |SELECT event_type, CAST(max(c) AS BIGINT) AS peak FROM (
             | SELECT event_type, sum(delta) OVER (PARTITION BY event_type
             |   ORDER BY t, delta, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
             | FROM pts)
             |GROUP BY 1""".stripMargin)),

    Q("q105_copurchase_pairs",
      (s, d) => {
        // weighted bipartite projection: part pairs by number of shared
        // orders (the graph q90/q97 traverse, surfaced as a relation; see
        // copurchasePairs — the self-join shuffles on the container key and
        // per-container fan-out is bounded by basket size, so the pair
        // relation grows linearly in containers, the 100 TB-safe
        // market-basket shape).
        copurchasePairs(s, d).filter(col("cnt") >= 3)
          .select(col("a"), col("b"), col("cnt").as("n_orders"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem)
             |SELECT x.p AS a, y.p AS b, count(*) AS n_orders
             |FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
             |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    Q("q106_transition_counts",
      (s, d) => {
        // first-order Markov transition counts over per-user event sequences:
        // lead() over the pinned (ts, event_id) order, then a global pair
        // count. One (user_id)-shuffle for the window, one for the agg.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        T(s, d, "events")
          .select(col("event_type"),
            lead(col("event_type"), 1).over(w).as("next_type"))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT event_type, next_type, count(*) AS n FROM (
             | SELECT event_type, lead(event_type, 1) OVER (
             |   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             | FROM events)
             |WHERE next_type IS NOT NULL
             |GROUP BY 1, 2""".stripMargin)),

    Q("q107_median_mode",
      (s, d) => {
        // exact median (interpolated, both engines average the middle pair)
        // + deterministic mode (max count, ties → smallest key; computed
        // from grouped counts + a rank — never engine-dependent mode()).
        val cust = T(s, d, "customer")
        val med = cust.groupBy(col("c_mktsegment"))
          .agg(round(median(col("c_acctbal")), 6).as("med_bal"),
            count(lit(1)).as("n"))
        val cnt = cust.groupBy(col("c_mktsegment"), col("c_nationkey"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("cnt").desc, col("c_nationkey"))
        val mode = cnt.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("c_mktsegment"), col("c_nationkey").as("mode_nation"))
        med.join(mode, Seq("c_mktsegment"))
      },
      Some("""WITH med AS (SELECT c_mktsegment, round(median(c_acctbal), 6) AS med_bal,
             |               count(*) AS n FROM customer GROUP BY 1),
             |cnt AS (SELECT c_mktsegment, c_nationkey, count(*) AS cnt
             |        FROM customer GROUP BY 1, 2),
             |md AS (SELECT c_mktsegment, c_nationkey AS mode_nation FROM (
             |   SELECT *, row_number() OVER (PARTITION BY c_mktsegment
             |     ORDER BY cnt DESC, c_nationkey) AS rn FROM cnt) WHERE rn = 1)
             |SELECT m.c_mktsegment, m.med_bal, m.n, md.mode_nation
             |FROM med m JOIN md ON md.c_mktsegment = m.c_mktsegment""".stripMargin)),

    Q("q108_except_all",
      (s, d) => {
        // multiset difference: EXCEPT ALL keeps surplus multiplicity
        // (count_open − count_returned per key), which plain EXCEPT/anti-join
        // cannot express; grouped afterwards to a stable relation.
        val li = T(s, d, "lineitem")
        li.filter(col("l_linestatus") === "O").select(col("l_partkey"))
          .exceptAll(li.filter(col("l_returnflag") === "R").select(col("l_partkey")))
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("surplus"))
      },
      Some("""SELECT l_partkey, count(*) AS surplus FROM (
             | SELECT l_partkey FROM lineitem WHERE l_linestatus = 'O'
             | EXCEPT ALL
             | SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
             |GROUP BY 1""".stripMargin)),

    Q("q109_clustering_coeff",
      (s, d) => {
        // per-vertex triangle counts + local clustering coefficient on the
        // co-purchase-≥2 graph (degree-oriented intersections — see
        // Analytics.localClustering; the oracle replays the naive
        // neighbor-pair join, identical counts)
        val e = copurchasePairs(s, d).filter(col("cnt") >= 2)
          .select(col("a"), col("b"))
        graft.graph.Analytics.localClustering(e)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             |e AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y
             |      ON x.ok = y.ok AND x.p < y.p
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
             |deg AS (SELECT a AS id, count(*) AS deg FROM und GROUP BY 1),
             |tri AS (SELECT u1.a AS id, count(*) AS tri
             |  FROM und u1 JOIN und u2 ON u2.a = u1.a AND u1.b < u2.b
             |  JOIN e ON e.a = u1.b AND e.b = u2.b
             |  GROUP BY 1)
             |SELECT d.id, d.deg, coalesce(t.tri, 0) AS tri,
             | round(CASE WHEN d.deg >= 2
             |   THEN coalesce(t.tri, 0) * 2.0 / (d.deg * (d.deg - 1))
             |   ELSE 0.0 END, 6) AS cc
             |FROM deg d LEFT JOIN tri t ON t.id = d.id""".stripMargin)),

    Q("q110_range_frame_velocity",
      (s, d) => {
        // per-event trailing velocity: events by the same user in the
        // preceding hour, via a RANGE frame on epoch seconds — frame
        // membership depends only on the time value, so ties need no
        // tiebreaker to be deterministic. One (user_id)-shuffle.
        val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
          .rangeBetween(-3600L, 0L)
        T(s, d, "events")
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("t"))
          .withColumn("n_trailing_1h", count(lit(1)).over(w))
          .select(col("event_id"), col("user_id"), col("n_trailing_1h"))
      },
      Some("""SELECT event_id, user_id, count(*) OVER (PARTITION BY user_id
             |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_trailing_1h
             |FROM events""".stripMargin)))

  // ---------------------------------------------------------------- round-2 extensions (batch 4)
  // Training-corpus assembly (ops.TrainingData): deterministic hash split,
  // hash-bucket negative sampling, class-balanced downsampling, sequential
  // sequence packing — all md5-driven, so the oracle replays them exactly —
  // plus the stream-static enrich join (streaming.EventStreams, stream ≡
  // batch asserted in StreamingSpec).

  /** DuckDB replay of [[graft.ops.TrainingData]]'s md5-derived 60-bit hash
    * (same digit-by-digit reconstruction as the simhash/LSH oracles). */
  private def duckH60(x: String): String =
    s"""CAST(list_sum(list_transform(range(15), i ->
       |  (strpos('0123456789abcdef', substring(md5($x), CAST(i AS INT) + 1, 1)) - 1)::BIGINT
       |  << (4 * (14 - CAST(i AS INT))))) AS BIGINT)""".stripMargin

  /** Shared WITH-prefix replaying [[graft.graph.Layout.fruchtermanReingold]]
    * over the nation-region graph through `p$layoutIters` (id, x, y) — used
    * by q147 (coordinates) and q161 (GEXF export relation). The oracle
    * computes repulsion over ALL pairs within the 2k cutoff (the grid in the
    * Spark plan is only the pair-FINDING strategy); every stage MATERIALIZED
    * like q52's power iteration. */
  private val layoutIters = 10
  private lazy val layoutOracleWith: String = {
    val iters = layoutIters
    def g(e: String) = s"greatest($e, 1e-9)"
    def sq(ax: String, ay: String, bx: String, by: String) =
      s"sqrt(($ax-$bx)*($ax-$bx) + ($ay-$by)*($ay-$by))"
    val stages = (1 to iters).map { i =>
      val p = s"p${i - 1}"
      val t = s"(0.1::DOUBLE * ${iters - i + 1}) / $iters"
      val len = "sqrt(f.fx*f.fx + f.fy*f.fy)"
      s"""d$i AS MATERIALIZED (
         |  SELECT a.id, a.x, a.y, b.x AS x2, b.y AS y2,
         |    ${sq("a.x", "a.y", "b.x", "b.y")} AS dist
         |  FROM $p a JOIN $p b ON a.id <> b.id),
         |r$i AS MATERIALIZED (
         |  SELECT id,
         |    round(sum((x - x2) * (k*k) / (${g("dist")}*${g("dist")})), 9) AS rfx,
         |    round(sum((y - y2) * (k*k) / (${g("dist")}*${g("dist")})), 9) AS rfy
         |  FROM d$i, prm WHERE dist < 2*k GROUP BY id),
         |a$i AS MATERIALIZED (
         |  SELECT e.u AS id,
         |    round(sum(-(pu.x - pv.x) * ${sq("pu.x", "pu.y", "pv.x", "pv.y")} / k), 9) AS afx,
         |    round(sum(-(pu.y - pv.y) * ${sq("pu.x", "pu.y", "pv.x", "pv.y")} / k), 9) AS afy
         |  FROM e JOIN $p pu ON pu.id = e.u JOIN $p pv ON pv.id = e.v, prm GROUP BY e.u),
         |f$i AS (
         |  SELECT p.id, p.x, p.y,
         |    coalesce(r.rfx, 0.0::DOUBLE) + coalesce(a.afx, 0.0::DOUBLE) AS fx,
         |    coalesce(r.rfy, 0.0::DOUBLE) + coalesce(a.afy, 0.0::DOUBLE) AS fy
         |  FROM $p p LEFT JOIN r$i r ON r.id = p.id LEFT JOIN a$i a ON a.id = p.id),
         |p$i AS MATERIALIZED (
         |  SELECT f.id,
         |    round(f.x + f.fx * (CASE WHEN $len > 0
         |      THEN least($len, $t) / $len ELSE 0.0::DOUBLE END), 9) AS x,
         |    round(f.y + f.fy * (CASE WHEN $len > 0
         |      THEN least($len, $t) / $len ELSE 0.0::DOUBLE END), 9) AS y
         |  FROM f$i f)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS u, CAST(n_regionkey AS BIGINT) + 1000 AS v FROM nation),
       |e AS MATERIALIZED (SELECT DISTINCT u, v FROM (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0) t(u, v) WHERE u <> v),
       |v AS (SELECT DISTINCT u AS id FROM e),
       |prm AS (SELECT sqrt(CAST(1 AS DOUBLE) / (SELECT count(*) FROM v)) AS k),
       |p0 AS MATERIALIZED (SELECT id,
       |  round(CAST(${duckH60("CAST(id AS VARCHAR) || ':x'")} AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE), 9) AS x,
       |  round(CAST(${duckH60("CAST(id AS VARCHAR) || ':y'")} AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE), 9) AS y
       |  FROM v),
       |$stages""".stripMargin
  }

  private val ext5Qs = Seq(
    Q("q111_hash_split",
      (s, d) => graft.ops.TrainingData.hashSplit(T(s, d, "documents")),
      Some(s"""SELECT doc_id, lang,
              | CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
              |      ELSE 'test' END AS split
              |FROM (SELECT doc_id, lang,
              |  ${duckH60("CAST(doc_id AS VARCHAR)")} % 100 AS h
              | FROM documents)""".stripMargin)),

    Q("q112_negative_sampling",
      (s, d) => graft.ops.TrainingData.negativeSample(
        T(s, d, "documents"), rounds = 4, buckets = 64, k = 2),
      Some(s"""WITH assign AS (
              | SELECT doc_id, r.range AS r,
              |  ${duckH60("CAST(doc_id AS VARCHAR) || ':' || CAST(r.range AS VARCHAR)")} % 64 AS bucket
              | FROM documents, range(4) r),
              |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              | FROM assign x JOIN assign y
              |  ON x.r = y.r AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
              |bidir AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
              |scored AS (SELECT a, b,
              |  md5(CAST(least(a, b) AS VARCHAR) || ':' || CAST(greatest(a, b) AS VARCHAR)) AS score
              | FROM bidir),
              |ranked AS (SELECT a, b,
              |  row_number() OVER (PARTITION BY a ORDER BY score, b) AS rnk FROM scored)
              |SELECT a AS anchor, b AS negative, CAST(rnk AS BIGINT) AS rank
              |FROM ranked WHERE rnk <= 2""".stripMargin)),

    Q("q113_balanced_sample",
      (s, d) => graft.ops.TrainingData.balancedSample(T(s, d, "documents"), "lang"),
      Some("""WITH m AS (SELECT min(n) AS m FROM (
             |   SELECT lang, count(*) AS n FROM documents GROUP BY 1)),
             |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents)
             |SELECT doc_id, lang FROM r, m WHERE r.rk <= m.m""".stripMargin)),

    Q("q114_sequence_packing",
      // shardDocs=128 so the skew-bounding shard dimension is exercised at
      // verify scale (500 docs → 4 shards), not just a degenerate single shard
      (s, d) => graft.ops.TrainingData.sequencePacking(
        T(s, d, "documents"), budget = 8192, partCol = "lang", shardDocs = 128),
      Some("""WITH t AS (SELECT lang,
             |  CAST(floor(doc_id / 128) AS BIGINT) AS shard, doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
             |    AS BIGINT) AS n_tokens
             | FROM documents),
             |c AS (SELECT lang, shard, doc_id, n_tokens,
             |  coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre FROM t)
             |SELECT lang, shard, CAST(floor(pre / 8192) AS BIGINT) AS bin,
             | count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             | min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM c GROUP BY 1, 2, 3""".stripMargin)),

    Q("q115_stream_static_enrich",
      (s, d) => graft.streaming.EventStreams.enrichBatch(
          T(s, d, "events"), T(s, d, "customer"), "c_custkey")
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")),
      Some("""SELECT c_mktsegment, event_type, count(*) AS n,
             | round(sum(value), 4) AS sum_value
             |FROM events e JOIN customer c ON c.c_custkey = e.user_id
             |GROUP BY 1, 2""".stripMargin)))

  /** Unrolled fixed-step oracle for [[graft.graph.Analytics.deterministicWalks]]
    * on the part↔supplier graph: each stage joins the ranked adjacency on the
    * md5-selected neighbor index (same digit-replay hash as duckH60). */
  private val walkSteps = 3
  private val walkOracle: String = {
    val base =
      """WITH e AS (SELECT DISTINCT l_partkey AS a, 1000000 + l_suppkey AS b FROM lineitem),
        |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |adj AS MATERIALIZED (SELECT a, b,
        |  row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS idx,
        |  count(*) OVER (PARTITION BY a) AS deg FROM und),
        |w0 AS (SELECT DISTINCT a AS walker, a AS cur FROM und)""".stripMargin
    val stages = (1 to walkSteps).map { s =>
      s"""w$s AS MATERIALIZED (SELECT w.walker, n.b AS cur
         |  FROM w${s - 1} w JOIN adj n ON n.a = w.cur
         |  AND n.idx = ${duckH60(s"CAST(w.walker AS VARCHAR) || ':$s'")} % n.deg)""".stripMargin
    }
    val union = (0 to walkSteps)
      .map(s => s"SELECT walker, CAST($s AS BIGINT) AS step, cur AS node FROM w$s")
      .mkString("\nUNION ALL\n")
    (base +: stages).mkString(",\n") + "\n" + union
  }

  /** Unrolled fixed-round Lloyd's k-means oracle
    * ([[graft.ops.Quantize.kmeansCodebook]] semantics: first-k init,
    * integer micro-unit coordinates, ties → min centroid id, 2 rounds +
    * final assignment). Every stage MATERIALIZED — assignments feed both
    * the next update and the distance carry. */
  /** The WITH-chain replaying [[graft.ops.Quantize.kmeansCodebook]] (2
    * rounds, k=8); the final assignment lands in CTE `a2`. `recursive`
    * prefixes WITH RECURSIVE so callers can append closure CTEs. */
  /** Pinned k = 8 — the codebook-size contract of q120/q152, where a fixed
    * k is a model hyperparameter rather than a scale bug. (The corpus-
    * scaled ANN consumers replay [[hplaneCellStages]] instead — round 7
    * removed their O(n·k) k-means assignment.) */
  private def kmeansStages(recursive: Boolean): String = {
    val rounds = 2
    def assignStage(a: String, c: String) =
      s"""$a AS MATERIALIZED (SELECT vec_id, cid, dist FROM (
         |  SELECT vec_id, cid, dist,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM (
         |   SELECT iv.vec_id, c.cid, sum((iv.x - c.cx) * (iv.x - c.cx)) AS dist
         |   FROM iv JOIN $c c ON c.d = iv.d GROUP BY 1, 2)) WHERE rn = 1)""".stripMargin
    def updateStage(c: String, a: String) =
      s"""$c AS MATERIALIZED (SELECT a.cid, iv.d,
         |  CAST(floor(sum(iv.x)::DOUBLE / count(*)) AS BIGINT) AS cx
         | FROM $a a JOIN iv ON iv.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin
    val w = if (recursive) "WITH RECURSIVE" else "WITH"
    val seedCte =
      """c0 AS (SELECT vec_id AS cid, d, x AS cx FROM iv WHERE vec_id IN (
        |   SELECT DISTINCT vec_id FROM iv ORDER BY vec_id LIMIT 8))""".stripMargin
    val base =
      s"""$w f AS (SELECT vec_id, unnest(embedding) AS v,
        |   generate_subscripts(embedding, 1) AS i FROM embeddings),
        |iv AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
        |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x FROM f),
        |$seedCte""".stripMargin
    val stages = (1 to rounds).flatMap(r =>
      Seq(assignStage(s"a${r - 1}", s"c${r - 1}"), updateStage(s"c$r", s"a${r - 1}")))
    ((base +: stages) :+ assignStage(s"a$rounds", s"c$rounds")).mkString(",\n")
  }

  /** Name of [[kmeansStages]]' final-assignment CTE — single source of truth
    * for the two oracles that SELECT from it. */
  private val kmeansFinalCte = "a2"

  /** The WITH-chain replaying [[graft.ops.Similarity.hyperplaneCells]]'
    * corpus-scaled cell assignment: micro-unit coords (`fi`), per-dim
    * integer means (`mu`), plane count = smallest p ∈ [3,30] with
    * 2ᵖ·256 ≥ n (`np`), md5-digit hyperplane components (the q98
    * technique), centered projections, and the final `cells(vec_id,
    * cell)`. Also exposes `f` (unnested floats) for the downstream
    * dot/norm CTEs the five ANN-family consumers share. `recursive`
    * prefixes WITH RECURSIVE so callers can append closure CTEs. */
  private def hplaneCellStages(recursive: Boolean): String = {
    val w = if (recursive) "WITH RECURSIVE" else "WITH"
    s"""$w f AS (SELECT vec_id, unnest(embedding) AS v,
       |   generate_subscripts(embedding, 1) AS i FROM embeddings),
       |fi AS MATERIALIZED (SELECT vec_id, i,
       |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS iv FROM f),
       |nn AS (SELECT count(DISTINCT vec_id) AS n FROM fi),
       |np AS (SELECT coalesce(min(p), 30) AS np FROM range(3, 31) t(p), nn
       |   WHERE (1::BIGINT << CAST(p AS INT)) * 256 >= nn.n),
       |mu AS (SELECT i, CAST(floor(sum(iv)::DOUBLE / count(*)) AS BIGINT) AS m
       |   FROM fi GROUP BY 1),
       |planes AS (SELECT p, d,
       |   (list_sum(list_transform(range(15), j ->
       |      CAST(strpos('0123456789abcdef', substr(md5(p || ':' || d), CAST(j + 1 AS INT), 1)) - 1
       |        AS BIGINT) * (1::BIGINT << CAST(4 * (14 - j) AS INT)))) % 2001) - 1000 AS h
       |  FROM range(30) t(p), range(64) s(d), np WHERE p < np.np),
       |proj AS (SELECT fi.vec_id, pl.p, sum((fi.iv - mu.m) * pl.h) AS pr
       |  FROM fi JOIN mu USING (i) JOIN planes pl ON pl.d = fi.i - 1 GROUP BY 1, 2),
       |cells AS MATERIALIZED (SELECT vec_id,
       |   CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS cell
       |  FROM proj GROUP BY 1)""".stripMargin
  }

  private val kmeansOracle: String = kmeansStages(recursive = false) +
    s"\nSELECT vec_id, cid AS centroid, CAST(dist AS BIGINT) AS dist FROM $kmeansFinalCte"

  /** Unrolled fixed-round personalized-PageRank oracle
    * ([[graft.graph.Centrality.personalizedPageRank]] semantics: teleport
    * and dangling mass to the uniform seed distribution, 8 rounds, same
    * customer→nation→region DAG as q81; seeds = custkey ≤ 25). */
  private def pprOracle: String = {
    val d = "0.85"
    val stages = (1 to 8).map { k =>
      val prev = if (k == 1) "x0" else s"x${k - 1}"
      s"""dang$k AS MATERIALIZED (
         |  SELECT coalesce(sum(x.score), 0.0) AS dm
         |  FROM $prev x JOIN deg USING (id) WHERE deg.outdeg = 0),
         |x$k AS MATERIALIZED (
         |  SELECT x.id, (1.0 - $d) * x.w + $d * (coalesce(c.inc, 0.0) + dd.dm * x.w) AS score, x.w
         |  FROM $prev x LEFT JOIN (
         |    SELECT e.dst AS id, sum(y.score / deg.outdeg) AS inc
         |    FROM e JOIN $prev y ON y.id = e.src JOIN deg ON deg.id = e.src GROUP BY e.dst
         |  ) c ON c.id = x.id, dang$k dd)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT c_custkey AS src, 10000000 + CAST(c_nationkey AS BIGINT) AS dst FROM customer
       |  UNION ALL
       |  SELECT 10000000 + CAST(n_nationkey AS BIGINT) AS src, 20000000 + CAST(n_regionkey AS BIGINT) AS dst FROM nation),
       |v AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |ns AS MATERIALIZED (SELECT count(*) AS n FROM v WHERE id <= 25),
       |deg AS MATERIALIZED (SELECT v.id, coalesce(o.c, 0) AS outdeg FROM v LEFT JOIN (SELECT src AS id, count(*) AS c FROM e GROUP BY 1) o ON o.id = v.id),
       |x0 AS MATERIALIZED (SELECT id,
       |  CASE WHEN id <= 25 THEN 1.0/CAST(ns.n AS DOUBLE) ELSE 0.0 END AS score,
       |  CASE WHEN id <= 25 THEN 1.0/CAST(ns.n AS DOUBLE) ELSE 0.0 END AS w
       | FROM v, ns),
       |$stages
       |SELECT id, round(score, 10) AS score FROM x8""".stripMargin
  }

  /** DuckDB token-n-gram CTE fragment (toks + gram window), matching
    * [[graft.ops.TextAnalysis]]'s whitespace tokenization. */
  private def duckGrams(n: Int): String = {
    val parts = ("tok" +: (1 until n).map(i => s"lead(tok,$i) OVER w")).mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id,
       |  unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok,
       |  generate_subscripts(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''), 1) AS pos
       | FROM documents),
       |g AS (SELECT doc_id, $parts AS gram
       | FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))""".stripMargin
  }

  private val ext6Qs = Seq(
    Q("q137_scd2_lookup",
      (s, d) => {
        // point-in-time enrichment against the SCD2 dimension q118 builds:
        // each click joined to the signup attribute valid AT its event time
        // ([valid_from, valid_to) with an open current row). Per-user
        // interval counts are tiny, so the inequality join stays bounded;
        // at scale it becomes the bucketized range join (ops.RangeJoin).
        val ev = T(s, d, "events")
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val dim = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), round(col("value"), 2).as("attr"),
            unix_timestamp(col("ts")).as("valid_from"),
            unix_timestamp(lead(col("ts"), 1).over(w)).as("valid_to"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("t"))
        clicks.join(dim,
            clicks("user_id") === dim("user_id") &&
              col("t") >= col("valid_from") &&
              (col("valid_to").isNull || col("t") < col("valid_to")))
          .select(col("event_id"), clicks("user_id").as("user_id"), col("attr"))
      },
      Some("""WITH dim AS (
             |  SELECT user_id, round(value, 2) AS attr,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
             |    CAST(floor(epoch(lead(ts, 1) OVER w)) AS BIGINT) AS valid_to
             |  FROM events WHERE event_type = 'signup'
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |clicks AS (SELECT event_id, user_id,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS t
             |  FROM events WHERE event_type = 'click')
             |SELECT c.event_id, c.user_id, d.attr
             |FROM clicks c JOIN dim d ON d.user_id = c.user_id
             | AND c.t >= d.valid_from
             | AND (d.valid_to IS NULL OR c.t < d.valid_to)""".stripMargin)),

    Q("q138_late_data_audit",
      (s, d) => {
        // watermark planning input: how much data ARRIVES late per user —
        // arrival order proxied by event_id, lateness = event time behind
        // the per-user high-water mark by > 10 min at arrival. One
        // (user_id)-shuffle window + an agg; this is the batch audit that
        // sizes a streaming watermark.
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        T(s, d, "events")
          .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("t"))
          .withColumn("hwm", max(col("t")).over(w))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("t") < col("hwm") - 600, 1L).otherwise(0L)).as("n_late"))
      },
      Some("""WITH a AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             |  max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id
             |    ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
             | FROM events)
             |SELECT user_id, count(*) AS n_events,
             | CAST(sum(CASE WHEN t < hwm - 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_late
             |FROM a GROUP BY 1""".stripMargin)),

    Q("q144_explode_outer",
      (s, d) => {
        // null-preserving flatten: explode_outer keeps parent rows whose
        // array is empty (a LEFT-JOIN-LATERAL-unnest in SQL) — the corner
        // where plain explode silently drops rows. Filter keeps 's'-words
        // of the type column, most rows match nothing.
        T(s, d, "part")
          .select(col("p_partkey"),
            explode_outer(filter(split(lower(col("p_type")), " "),
              x => x.startsWith("s"))).as("tok"))
      },
      Some("""SELECT p.p_partkey, t.tok FROM part p
             |LEFT JOIN LATERAL (SELECT unnest(list_filter(
             |  string_split(lower(p.p_type), ' '), x -> x LIKE 's%')) AS tok) t
             |ON true""".stripMargin)),

    Q("q145_try_cast",
      (s, d) => {
        // error-tolerant ingestion: TRY_CAST turns unparseable values into
        // NULLs instead of failing the job under ANSI semantics — the
        // dirty-data contract. A third of the synthesized values carry a
        // trailing letter; valid/invalid accounting per nation.
        val dirty = concat(
          regexp_extract(col("c_name"), "(\\d+)$", 1),
          when(col("c_custkey") % 3 === 0, "x").otherwise(""))
        T(s, d, "customer")
          .select(col("c_nationkey"), dirty.as("dirty"))
          .select(col("c_nationkey"), expr("try_cast(dirty AS BIGINT)").as("v"))
          .groupBy(col("c_nationkey"))
          .agg(count(col("v")).as("n_valid"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_invalid"),
            sum(col("v")).as("sum_parsed"))
      },
      Some("""WITH dirty AS (SELECT c_nationkey,
             |   regexp_extract(c_name, '(\d+)$', 1)
             |   || CASE WHEN c_custkey % 3 = 0 THEN 'x' ELSE '' END AS dv
             | FROM customer)
             |SELECT c_nationkey, count(TRY_CAST(dv AS BIGINT)) AS n_valid,
             | CAST(sum(CASE WHEN TRY_CAST(dv AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
             | CAST(sum(TRY_CAST(dv AS BIGINT)) AS BIGINT) AS sum_parsed
             |FROM dirty GROUP BY 1""".stripMargin)),

    Q("q146_component_listings",
      (s, d) => {
        // the reference's component_info membership artifact
        // (utils/analyze.py:297-323) over the nation-region graph: per
        // (category, component) one id-sorted member-line block, built
        // entirely in a per-component distributed aggregation
        val edges = T(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_regionkey").cast("long") + 1000L).as("dst"))
        val vertices = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id"))).distinct()
        val cc = graft.graph.Analytics.connectedComponents(vertices, edges)
        val ents = T(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("id"),
            col("n_name").as("name"), lit("nation").as("type"))
          .unionByName(T(s, d, "region")
            .select((col("r_regionkey").cast("long") + 1000L).as("id"),
              col("r_name").as("name"), lit("region").as("type")))
        // the operator emits scale-safe per-member rows; the one-row-per-
        // component listing STRING is this oracle artifact's shape, so the
        // collect_list lives here, where the graph is dimension-sized by
        // construction (nation-region), not in the operator
        graft.graph.Analytics.componentListings(cc, ents)
          .groupBy(col("category"), col("component"), col("size"))
          .agg(array_join(transform(array_sort(collect_list(struct(col("id"), col("line")))),
            x => x.getField("line")), "\n").as("listing"))
          .select(col("category"), col("component"), col("size"), col("listing"))
      },
      Some("""WITH RECURSIVE und AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS a, CAST(n_regionkey AS BIGINT) + 1000 AS b FROM nation
             |  UNION SELECT CAST(n_regionkey AS BIGINT) + 1000, CAST(n_nationkey AS BIGINT) FROM nation),
             |nodes AS (SELECT DISTINCT a AS id FROM und),
             |r(s, id) AS (SELECT id, id FROM nodes
             |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
             |cc AS (SELECT s AS id, min(id) AS component FROM r GROUP BY s),
             |ents AS (SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name, 'nation' AS type FROM nation
             |  UNION ALL SELECT CAST(r_regionkey AS BIGINT) + 1000, r_name, 'region' FROM region),
             |sz AS (SELECT component, count(*) AS size FROM cc GROUP BY 1),
             |cats(category, lo, hi) AS (VALUES ('isolated',1,1),('extra_small',2,4),('small',5,9),
             |  ('medium',10,25),('large',25,100),('extra_large',101,10000)),
             |catted AS (SELECT component, category, size FROM sz JOIN cats ON size >= lo AND size <= hi)
             |SELECT c.category, c.component, CAST(c.size AS BIGINT) AS size,
             |  string_agg('  ' || e.name || ' (' || m.id || ') (' || e.type || ')', chr(10) ORDER BY m.id) AS listing
             |FROM cc m JOIN catted c ON m.component = c.component JOIN ents e ON e.id = m.id
             |GROUP BY 1, 2, 3""".stripMargin)),

    Q("q147_spring_layout",
      (s, d) => {
        // force-directed layout (grapher.py:166-168 draw_spring; G10): grid-
        // variant Fruchterman-Reingold over the nation-region graph, 10
        // deterministic rounds — md5-seeded init + per-round 9-dp rounding
        // make the whole trajectory SQL-replayable (same discipline as q52)
        val e0 = T(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_regionkey").cast("long") + 1000L).as("dst"))
        val v = e0.select(col("src").as("id"))
          .unionByName(e0.select(col("dst").as("id"))).distinct()
        graft.graph.Layout.fruchtermanReingold(v, e0, iterations = 10)
          .select(col("id"), round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
      },
      // Exact replay: the oracle computes repulsion over ALL pairs within the
      // 2k cutoff (the grid in the Spark plan is only the pair-FINDING
      // strategy; the semantics is the distance cutoff, so a plain join
      // reproduces it). Every stage MATERIALIZED like q52's power iteration.
      Some(s"""$layoutOracleWith
          |SELECT id, round(x, 6) AS x, round(y, 6) AS y FROM p$layoutIters"""
        .stripMargin)),

    Q("q148_line_dedup",
      (s, d) => graft.ops.TextAnalysis.lineDedup(
        T(s, d, "documents"), sep = " line ", maxOcc = 2),
      Some("""WITH lines AS (
             |  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos,
             |         unnest(parts) AS line
             |  FROM (SELECT doc_id, string_split(text, ' line ') AS parts
             |        FROM documents) s),
             |dups AS (SELECT line FROM lines GROUP BY line HAVING count(*) > 2),
             |kept AS (SELECT doc_id, pos, line FROM lines
             |         WHERE line NOT IN (SELECT line FROM dups)),
             |counts AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1),
             |ka AS (SELECT doc_id, count(*) AS n_kept,
             |        string_agg(line, ' line ' ORDER BY pos) AS text_dedup
             |       FROM kept GROUP BY 1)
             |SELECT c.doc_id, CAST(c.n_lines AS BIGINT) AS n_lines,
             |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
             |  coalesce(ka.text_dedup, '') AS text_dedup
             |FROM counts c LEFT JOIN ka ON ka.doc_id = c.doc_id""".stripMargin)),

    Q("q149_filter_cascade",
      (s, d) => graft.ops.TextAnalysis.filterCascade(T(s, d, "documents")),
      Some(s"""WITH ${duckGrams(1)},
              |v AS (SELECT doc_id,
              |   floor((1.0 - count(DISTINCT gram) / count(*)) * 1000000) / 1000000 AS rep_ratio
              | FROM g GROUP BY 1),
              |m AS (SELECT doc_id,
              |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
              |  round((
              |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
              |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
              |  round(length(text)::DOUBLE
              |    / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
              | FROM documents),
              |r AS (SELECT m.doc_id,
              |   list_sort(list_filter([
              |     CASE WHEN m.n_tokens < 20 THEN 'too_short' END,
              |     CASE WHEN m.stopword_ratio < 0.02 THEN 'low_stopword' END,
              |     CASE WHEN v.rep_ratio > 0.65 THEN 'high_repetition' END,
              |     CASE WHEN m.mean_word_len > 5.9 THEN 'long_words' END],
              |     x -> x IS NOT NULL)) AS rs
              | FROM m LEFT JOIN v ON v.doc_id = m.doc_id)
              |SELECT doc_id,
              |  coalesce(array_to_string(rs, ','), '') AS reject_reasons,
              |  len(rs) = 0 AS keep FROM r""".stripMargin)),

    Q("q150_semantic_dedup",
      (s, d) => graft.ops.Similarity.semanticDedup(
        T(s, d, "embeddings"), rounds = 2, threshold = 0.3),
      // hyperplane cells → in-cell cosine pairs → recursive closure →
      // min-member keeper: the full SemDeDup pipeline replayed stage by
      // stage. Cell count is corpus-scaled (2^p·256 >= n in BOTH engines)
      // so the in-cell pair budget stays linear, and the signature
      // assignment is a per-row column — no O(n·k) scoring join (the
      // round-6 quadratic) in either engine.
      Some(hplaneCellStages(recursive = true) + s""",
           |pr AS (SELECT x.vec_id AS a, y.vec_id AS b
           |  FROM cells x JOIN cells y
           |    ON x.cell = y.cell AND x.vec_id < y.vec_id),
           |dots AS (SELECT p.a, p.b, sum(CAST(fa.v AS DOUBLE) * fb.v) AS dp
           |  FROM pr p JOIN f fa ON fa.vec_id = p.a
           |  JOIN f fb ON fb.vec_id = p.b AND fb.i = fa.i
           |  GROUP BY 1, 2),
           |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
           |nd AS (SELECT d.a, d.b
           |  FROM dots d JOIN norms na ON na.vec_id = d.a
           |  JOIN norms nb ON nb.vec_id = d.b
           |  WHERE round(d.dp / (na.nrm * nb.nrm), 6) >= 0.3),
           |und(a, b) AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
           |nodes AS (SELECT vec_id AS id FROM embeddings),
           |r(s, id) AS (
           |  SELECT id, id FROM nodes
           |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
           |cc AS (SELECT s AS vec_id, min(id) AS keep_id FROM r GROUP BY s)
           |SELECT vec_id, keep_id, vec_id = keep_id AS is_kept FROM cc""".stripMargin)),

    Q("q143_ewma",
      (s, d) => {
        // exponentially weighted moving average per user — the recursive
        // smoother stock SQL windows cannot express; realized as an ordered
        // fold (aggregate HOF) over each key's collected series. Bounded
        // per-key state (the collected list), one shuffle; both engines
        // fold in the identical pinned order, so the floats agree bitwise.
        T(s, d, "events")
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(struct(
            unix_timestamp(col("ts")).as("t"), col("event_id").as("eid"),
            col("value").as("v")))).as("srt"))
          .select(col("user_id"), size(col("srt")).cast("long").as("n"),
            round(expr(
              """aggregate(slice(srt, 2, size(srt) - 1),
                | cast(srt[0].v as double),
                | (acc, x) -> 0.2d * x.v + 0.8d * acc)""".stripMargin), 6)
              .as("ewma"))
      },
      // ordered by (epoch second, event_id) — the EXACT key the Spark side
      // sorts on; ordering by full-µs ts could interleave same-second
      // events differently
      Some("""WITH v AS (SELECT user_id,
             |   array_agg(value ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS vals
             | FROM events GROUP BY 1)
             |SELECT user_id, CAST(len(vals) AS BIGINT) AS n,
             | round(list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma
             |FROM v""".stripMargin)),

    Q("q141_partition_stats",
      (s, d) => {
        // table-format partition statistics (the zone-map/manifest entries
        // an Iceberg/Delta-style layout keeps per partition): per order
        // month, row count, key min/max, distinct customers, value sum —
        // what enables partition pruning and file skipping at 100 TB. One
        // pass, partial-aggregable.
        T(s, d, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("part"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            countDistinct(col("o_custkey")).as("n_cust"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(unix_timestamp(col("part")).as("part"), col("n_rows"),
            col("min_key"), col("max_key"), col("n_cust"), col("sum_price"))
      },
      Some("""SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS part,
             | count(*) AS n_rows, min(o_orderkey) AS min_key,
             | max(o_orderkey) AS max_key, count(DISTINCT o_custkey) AS n_cust,
             | round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY 1""".stripMargin)),

    Q("q142_incremental_agg",
      (s, d) => {
        // incremental materialized-view maintenance: the running aggregate
        // is kept as MERGEABLE partials (count + sum), a new batch's
        // partials merge without touching old raw data — the oracle is the
        // full recompute, so the equivalence is driver-checked. Split is
        // deterministic (event_id median threshold by construction).
        val ev = T(s, d, "events")
        def partial(df: DataFrame): DataFrame =
          df.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        val old = partial(ev.filter(col("event_id") % 5 =!= 0))
        val fresh = partial(ev.filter(col("event_id") % 5 === 0))
        old.unionByName(fresh)
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n"), round(sum(col("sv")), 4).as("sum_value"))
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    Q("q139_fixed_width_histogram",
      (s, d) => {
        // fixed-width histogram WITH empty bins: counts bucketized on a
        // 25-unit width, then densified against the full bin spine (the
        // q71 gap-fill pattern on a numeric axis) so downstream charting
        // sees zeros — bins are data-bounded, so the spine is tiny.
        val ev = T(s, d, "events")
          .select((floor(col("value") / 25) * 25).cast("long").as("bin_lo"))
        val per = ev.groupBy(col("bin_lo")).agg(count(lit(1)).as("n"))
        val bounds = per.agg(min(col("bin_lo")).as("lo"), max(col("bin_lo")).as("hi"))
        val spine = bounds.select(
          explode(expr("sequence(lo, hi, 25)")).as("bin_lo"))
        spine.join(per, Seq("bin_lo"), "left").na.fill(0L, Seq("n"))
      },
      Some("""WITH ev AS (SELECT CAST(floor(value / 25) * 25 AS BIGINT) AS bin_lo FROM events),
             |per AS (SELECT bin_lo, count(*) AS n FROM ev GROUP BY 1),
             |b AS (SELECT min(bin_lo) AS lo, max(bin_lo) AS hi FROM per),
             |spine AS (SELECT unnest(range(lo, hi + 25, 25)) AS bin_lo FROM b)
             |SELECT s.bin_lo, coalesce(p.n, 0) AS n
             |FROM spine s LEFT JOIN per p ON p.bin_lo = s.bin_lo""".stripMargin)),

    Q("q140_token_entropy",
      (s, d) => {
        // per-document Shannon entropy of the token distribution (the
        // perplexity-flavored quality signal): one token explode, one
        // (doc, tok) count, one per-doc agg — all partial-aggregable.
        val toks = T(s, d, "documents")
          .select(col("doc_id"),
            explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
              .as("tok"))
        val cnt = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
        cnt.groupBy(col("doc_id"))
          .agg(sum(col("n")).as("total"),
            sum(col("n").cast("double") * log2(col("n").cast("double"))).as("sxl"))
          .select(col("doc_id"), col("total"),
            round(log2(col("total").cast("double"))
              - col("sxl") / col("total"), 6).as("entropy"))
      },
      // H = log2(T) - Σ n·log2(n)/T  (algebraic form avoids per-row division)
      Some("""WITH toks AS (SELECT doc_id,
             |  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             | FROM documents),
             |cnt AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2)
             |SELECT doc_id, CAST(sum(n) AS BIGINT) AS total,
             | round(log2(CAST(sum(n) AS DOUBLE))
             |   - sum(n * log2(CAST(n AS DOUBLE))) / sum(n), 6) AS entropy
             |FROM cnt GROUP BY 1""".stripMargin)),

    Q("q134_assortativity",
      (s, d) => {
        // degree assortativity of the co-purchase graph: Pearson correlation
        // of endpoint degrees over directed edge instances (both directions,
        // the standard symmetric form). Degrees attach via two broadcast-able
        // node-sized joins; corr is one partial-aggregable pass.
        val e = copurchasePairs(s, d).filter(col("cnt") >= 2)
          .select(col("a"), col("b"))
        val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
        val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
        und
          .join(broadcast(deg.select(col("id").as("a"), col("deg").as("da"))), Seq("a"))
          .join(broadcast(deg.select(col("id").as("b"), col("deg").as("db"))), Seq("b"))
          .agg(round(corr(col("da").cast("double"), col("db").cast("double")), 6)
            .as("assortativity"), count(lit(1)).as("n_edge_instances"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             |e AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y
             |      ON x.ok = y.ok AND x.p < y.p
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
             |deg AS (SELECT a AS id, count(*) AS deg FROM und GROUP BY 1)
             |SELECT round(corr(CAST(da.deg AS DOUBLE), CAST(db.deg AS DOUBLE)), 6)
             |   AS assortativity,
             | count(*) AS n_edge_instances
             |FROM und u JOIN deg da ON da.id = u.a JOIN deg db ON db.id = u.b""".stripMargin)),

    Q("q135_rrf_fusion",
      (s, d) => {
        // reciprocal-rank fusion of two retrieval rankings (the standard
        // RAG re-ranking combinator): per query, candidates ranked by cosine
        // AND by integer-exact squared L2; fused score = Σ 1/(60 + rank).
        // Ranks come from windows over the per-query candidate relation;
        // both source rankings and the fusion are deterministic (ties →
        // vec_id), so the oracle replays everything.
        val iv = graft.ops.Quantize.coords(T(s, d, "embeddings"))
        val sq = iv.groupBy(col("vec_id"))
          .agg(sum(col("x") * col("x")).as("ssq"))
        val lab = T(s, d, "embeddings").select(col("vec_id"), col("label"))
        val q = lab.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("label"))
        val cand = q.join(lab.withColumnRenamed("vec_id", "cid"), Seq("label"))
          .filter(col("cid") =!= col("qid"))
          .select(col("qid"), col("cid"))
        val dots = cand
          .join(iv.select(col("vec_id").as("qid"), col("d"), col("x").as("xq")), Seq("qid"))
          .join(iv.select(col("vec_id").as("cid"), col("d"), col("x").as("xc")),
            Seq("cid", "d"))
          .groupBy(col("qid"), col("cid")).agg(sum(col("xq") * col("xc")).as("dot"))
        val scored = dots
          .join(broadcast(sq.select(col("vec_id").as("qid"), col("ssq").as("nq"))), Seq("qid"))
          .join(broadcast(sq.select(col("vec_id").as("cid"), col("ssq").as("nc"))), Seq("cid"))
          .select(col("qid"), col("cid"),
            (col("dot").cast("double")
              / (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
              .as("cos"),
            (col("nq") + col("nc") - lit(2L) * col("dot")).as("l2sq"))
        val w1 = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
        val w2 = Window.partitionBy(col("qid")).orderBy(col("l2sq"), col("cid"))
        val fused = scored
          .withColumn("r1", row_number().over(w1))
          .withColumn("r2", row_number().over(w2))
          .withColumn("rrf",
            lit(1.0) / (lit(60) + col("r1")) + lit(1.0) / (lit(60) + col("r2")))
        val w3 = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("cid"))
        fused.withColumn("rank", row_number().over(w3))
          .filter(col("rank") <= 10)
          .select(col("qid"), col("cid"), round(col("rrf"), 8).as("rrf"),
            col("rank").cast("long").as("rank"))
      },
      Some("""WITH f AS (SELECT vec_id, label, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |iv AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
             |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x FROM f),
             |sq AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS ssq FROM iv GROUP BY 1),
             |lab AS (SELECT DISTINCT vec_id, label FROM embeddings),
             |cand AS (SELECT q.vec_id AS qid, c.vec_id AS cid
             |  FROM (SELECT * FROM lab WHERE vec_id < 5) q
             |  JOIN lab c ON c.label = q.label AND c.vec_id <> q.vec_id),
             |dots AS (SELECT cand.qid, cand.cid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
             |  FROM cand JOIN iv a ON a.vec_id = cand.qid
             |  JOIN iv b ON b.vec_id = cand.cid AND b.d = a.d
             |  GROUP BY 1, 2),
             |scored AS (SELECT d.qid, d.cid,
             |   d.dot / (sqrt(CAST(nq.ssq AS DOUBLE)) * sqrt(CAST(nc.ssq AS DOUBLE))) AS cos,
             |   nq.ssq + nc.ssq - 2 * d.dot AS l2sq
             |  FROM dots d JOIN sq nq ON nq.vec_id = d.qid JOIN sq nc ON nc.vec_id = d.cid),
             |fused AS (SELECT qid, cid,
             |   1.0 / (60 + row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid))
             |   + 1.0 / (60 + row_number() OVER (PARTITION BY qid ORDER BY l2sq, cid)) AS rrf
             |  FROM scored),
             |ranked AS (SELECT qid, cid, rrf,
             |   row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rank
             |  FROM fused)
             |SELECT qid, cid, round(rrf, 8) AS rrf, CAST(rank AS BIGINT) AS rank
             |FROM ranked WHERE rank <= 10""".stripMargin)),

    Q("q136_ab_significance",
      (s, d) => {
        // two-sample Welch z-test between event cohorts (the experimentation
        // readout): per-group moments in one partial-aggregable pass, then
        // scalar arithmetic. At 100 TB this is the same two-stage agg.
        val ev = T(s, d, "events")
          .filter(col("event_type").isin("click", "view"))
        val g = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
            var_samp(col("value")).as("v"))
        val a = g.filter(col("event_type") === "click")
          .select(col("n").as("na"), col("m").as("ma"), col("v").as("va"))
        val b = g.filter(col("event_type") === "view")
          .select(col("n").as("nb"), col("m").as("mb"), col("v").as("vb"))
        a.crossJoin(b).select(
          col("na"), col("nb"),
          round(col("ma"), 6).as("mean_click"),
          round(col("mb"), 6).as("mean_view"),
          round((col("ma") - col("mb"))
            / sqrt(col("va") / col("na") + col("vb") / col("nb")), 6).as("welch_z"))
      },
      Some("""WITH g AS (SELECT event_type, count(*) AS n, avg(value) AS m,
             |   var_samp(value) AS v
             | FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
             |a AS (SELECT n AS na, m AS ma, v AS va FROM g WHERE event_type = 'click'),
             |b AS (SELECT n AS nb, m AS mb, v AS vb FROM g WHERE event_type = 'view')
             |SELECT na, nb, round(ma, 6) AS mean_click, round(mb, 6) AS mean_view,
             | round((ma - mb) / sqrt(va / na + vb / nb), 6) AS welch_z
             |FROM a, b""".stripMargin)),

    Q("q131_minmax_scale",
      (s, d) => {
        // per-dimension min-max feature scaling: bounds are a 64-row agg
        // (broadcast back onto the coordinate relation); arithmetic on
        // integerized micro-units so both engines scale identical values.
        // Zero-range dims map to 0 (guarded divide).
        val iv = graft.ops.Quantize.coords(T(s, d, "embeddings"))
        val bounds = iv.groupBy(col("d"))
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        iv.join(broadcast(bounds), Seq("d"))
          .select(col("vec_id"), col("d"),
            when(col("mx") === col("mn"), 0.0)
              .otherwise((col("x") - col("mn")).cast("double")
                / (col("mx") - col("mn")).cast("double"))
              .as("scaled"))
          .select(col("vec_id"), col("d"), round(col("scaled"), 6).as("scaled"))
      },
      Some("""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |iv AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
             |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x FROM f),
             |b AS (SELECT d, min(x) AS mn, max(x) AS mx FROM iv GROUP BY 1)
             |SELECT iv.vec_id, iv.d,
             | round(CASE WHEN b.mx = b.mn THEN 0.0
             |   ELSE (iv.x - b.mn) / CAST(b.mx - b.mn AS DOUBLE) END, 6) AS scaled
             |FROM iv JOIN b ON b.d = iv.d""".stripMargin)),

    Q("q132_feature_hashing",
      (s, d) => {
        // the hashing trick: tokens → md5-bucketed feature indices (1024
        // dims), per-doc sparse counts — fixed-width featurization with no
        // vocabulary build, the standard first step when the token space is
        // unbounded. Pure projection + one (doc, idx) agg.
        T(s, d, "documents")
          .select(col("doc_id"),
            explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
              .as("tok"))
          .select(col("doc_id"), (graft.expr.Hash60.h60Col(col("tok")) % 1024).as("feature_idx"))
          .groupBy(col("doc_id"), col("feature_idx"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""WITH toks AS (SELECT doc_id,
              |  unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
              | FROM documents)
              |SELECT doc_id, ${duckH60("tok")} % 1024 AS feature_idx,
              | count(*) AS n
              |FROM toks GROUP BY 1, 2""".stripMargin)),

    Q("q133_modularity",
      (s, d) => {
        // modularity Q of a labeled partition (brands) over the co-purchase
        // graph: Q = Σ_c (e_c/m − (deg_c/2m)²) — evaluates how well an
        // attribute explains the graph's structure. All counts integer-exact
        // until the final division; one edge agg + one degree agg.
        val e = copurchasePairs(s, d).filter(col("cnt") >= 2)
          .select(col("a"), col("b"))
        val brand = T(s, d, "part")
          .select(col("p_partkey").as("id"), col("p_brand").as("c"))
        val lab = e
          .join(broadcast(brand.select(col("id").as("a"), col("c").as("ca"))), Seq("a"))
          .join(broadcast(brand.select(col("id").as("b"), col("c").as("cb"))), Seq("b"))
        val m = lab.count().toDouble
        val intra = lab.filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
        val deg = lab.select(col("a").as("id"), col("ca").as("c"))
          .unionByName(lab.select(col("b").as("id"), col("cb").as("c")))
          .groupBy(col("c")).agg(count(lit(1)).as("degc"))
        deg.join(intra, Seq("c"), "left").na.fill(0L, Seq("ec"))
          .select((col("ec") / m
            - (col("degc") / (2.0 * m)) * (col("degc") / (2.0 * m))).as("qc"))
          .agg(round(sum(col("qc")), 6).as("modularity"),
            count(lit(1)).as("n_communities"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             |e AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y
             |      ON x.ok = y.ok AND x.p < y.p
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |lab AS (SELECT e.a, e.b, pa.p_brand AS ca, pb.p_brand AS cb
             |  FROM e JOIN part pa ON pa.p_partkey = e.a
             |  JOIN part pb ON pb.p_partkey = e.b),
             |m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM lab),
             |intra AS (SELECT ca AS c, count(*) AS ec FROM lab WHERE ca = cb GROUP BY 1),
             |deg AS (SELECT c, count(*) AS degc FROM (
             |  SELECT a AS id, ca AS c FROM lab UNION ALL SELECT b, cb FROM lab) GROUP BY 1)
             |SELECT round(sum(coalesce(i.ec, 0) / m.m
             |    - (d.degc / (2.0 * m.m)) * (d.degc / (2.0 * m.m))), 6) AS modularity,
             | count(*) AS n_communities
             |FROM deg d LEFT JOIN intra i ON i.c = d.c, m""".stripMargin)),

    Q("q130_frame_sample",
      (s, d) => Multimodal.frameSample(
        Multimodal.ingest(T(s, d, "documents")), frameBytes = 256, stride = 4),
      // corpus is ASCII, so byte slices ≡ char slices and md5 agrees
      Some("""WITH m AS (SELECT doc_id AS media_id, text, strlen(text) AS n FROM documents),
             |f AS (SELECT media_id, text, n,
             |   unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT))) AS frame_idx FROM m)
             |SELECT media_id, frame_idx,
             | CAST(least(256, n - frame_idx * 256) AS BIGINT) AS frame_len,
             | md5(substr(text, CAST(frame_idx * 256 + 1 AS INT),
             |   CAST(least(256, n - frame_idx * 256) AS INT))) AS frame_md5
             |FROM f WHERE frame_idx % 4 = 0""".stripMargin)),

    Q("q128_mixture_weights",
      (s, d) => {
        // training-mixture reweighting: per-language resampling weight that
        // moves the corpus from its observed language mix to a uniform
        // target — weight = target_frac / actual_frac, expected post-resample
        // count = weight · n. Two tiny aggs + a broadcast scalar; the 100 TB
        // form is identical (the mixture table is vocabulary-sized).
        val docs = T(s, d, "documents")
        val per = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val tot = per.agg(sum(col("n_docs")).as("n_total"),
          count(lit(1)).as("n_langs"))
        per.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"),
            round(col("n_docs").cast("double") / col("n_total"), 6).as("actual_frac"),
            round((col("n_total").cast("double") / col("n_langs"))
              / col("n_docs"), 6).as("weight"),
            round((col("n_total").cast("double") / col("n_langs")), 2)
              .as("expected_n"))
      },
      Some("""WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
             |        count(*) AS n_langs FROM per)
             |SELECT lang, n_docs,
             | round(n_docs / CAST(n_total AS DOUBLE), 6) AS actual_frac,
             | round((n_total / CAST(n_langs AS DOUBLE)) / n_docs, 6) AS weight,
             | round(n_total / CAST(n_langs AS DOUBLE), 2) AS expected_n
             |FROM per, tot""".stripMargin)),

    Q("q129_vocab_coverage",
      (s, d) => {
        // vocabulary induction by coverage: token doc-frequencies sorted by
        // (freq desc, token), kept while the coverage BEFORE the token is
        // < 95% of all token-document incidences — the smallest prefix
        // vocabulary covering the target mass. The global window runs
        // over the VOCABULARY (bounded, dimension-sized), not the corpus;
        // the corpus-sized work is the one freq aggregation.
        val toks = Dedup.tokens(T(s, d, "documents"))
        val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        val total = freq.agg(sum(col("freq")).as("n_total"))
        val w = Window.orderBy(col("freq").desc, col("tok"))
          .rowsBetween(Window.unboundedPreceding, -1)
        freq.crossJoin(broadcast(total))
          .withColumn("cum_before", coalesce(sum(col("freq")).over(w), lit(0L)))
          .filter(col("cum_before").cast("double") / col("n_total") < 0.95)
          .select(
            row_number().over(Window.orderBy(col("freq").desc, col("tok")))
              .cast("long").as("rank"),
            col("tok"), col("freq"),
            round((col("cum_before") + col("freq")).cast("double")
              / col("n_total"), 6).as("cum_frac"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, tok FROM (
             |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
             |    FROM documents) WHERE tok <> ''),
             |freq AS (SELECT tok, count(*) AS freq FROM (SELECT DISTINCT doc_id, tok FROM toks) t
             |         GROUP BY 1),
             |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM freq),
             |c AS (SELECT tok, freq,
             |   coalesce(sum(freq) OVER (ORDER BY freq DESC, tok
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             | FROM freq)
             |SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank,
             | tok, freq,
             | round((cum_before + freq) / CAST(n_total AS DOUBLE), 6) AS cum_frac
             |FROM c, tot WHERE cum_before / CAST(n_total AS DOUBLE) < 0.95""".stripMargin)),

    Q("q125_redact_blocklist",
      (s, d) => graft.ops.TextAnalysis.redactTerms(
        T(s, d, "documents"), Seq("customer", "supplier")),
      Some("""SELECT doc_id,
             | CAST(len(regexp_extract_all(lower(text), '\b(customer|supplier)\b')) AS BIGINT) AS n_redacted,
             | CAST(length(regexp_replace(lower(text), '\b(customer|supplier)\b', '[REDACTED]', 'g')) AS BIGINT) AS masked_len
             |FROM documents""".stripMargin)),

    Q("q126_repetition_ratio",
      (s, d) => graft.ops.TextAnalysis.repetitionRatio(T(s, d, "documents"), 2),
      Some(s"""WITH ${duckGrams(2)},
              |v AS (SELECT doc_id, count(*) AS total_grams,
              |   count(DISTINCT gram) AS uniq_grams
              | FROM g WHERE gram IS NOT NULL AND len(string_split(gram, ' ')) = 2
              | GROUP BY 1)
              |SELECT doc_id, total_grams, uniq_grams,
              | floor((1.0 - uniq_grams / total_grams) * 1000000) / 1000000 AS rep_ratio
              |FROM v""".stripMargin)),

    Q("q127_decontamination",
      (s, d) => graft.ops.TextAnalysis.decontaminate(
        T(s, d, "documents"), col("doc_id") % 7 === 0, 8),
      Some(s"""WITH ${duckGrams(8)},
              |gd AS (SELECT DISTINCT doc_id, gram FROM g
              |  WHERE gram IS NOT NULL AND len(string_split(gram, ' ')) = 8)
              |SELECT DISTINCT t.doc_id AS train_doc, b.doc_id AS bench_doc
              |FROM gd t JOIN gd b ON b.gram = t.gram
              | AND b.doc_id % 7 = 0 AND t.doc_id % 7 <> 0""".stripMargin)),

    Q("q124_personalized_pagerank",
      (s, d) => {
        val c = T(s, d, "customer").select(col("c_custkey").as("src"),
          (col("c_nationkey").cast("long") + 10000000L).as("dst"))
        val n = T(s, d, "nation").select(
          (col("n_nationkey").cast("long") + 10000000L).as("src"),
          (col("n_regionkey").cast("long") + 20000000L).as("dst"))
        val e = c.unionByName(n)
        val v = e.select(col("src").as("id"))
          .unionByName(e.select(col("dst").as("id"))).distinct()
        val seeds = v.filter(col("id") <= 25)
        graft.graph.Centrality.personalizedPageRank(v, e, seeds,
            iters = 8, damping = 0.85)
          .select(col("id"), round(col("score"), 10).as("score"))
      },
      Some(pprOracle)),

    Q("q121_equidepth_histogram",
      (s, d) => {
        // equi-depth histogram build (the zone-map/statistics op an
        // optimizer's ANALYZE runs): exact interpolated quartiles per group,
        // one partial-aggregable pass; surfaced exploded for hash-compare
        T(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(percentile(col("l_extendedprice"),
            array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
          .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("qi", "qv")))
          .select(col("l_returnflag"), col("qi").cast("long").as("qi"),
            round(col("qv"), 4).as("qv"))
      },
      Some("""WITH q AS (SELECT l_returnflag,
             |   quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS qs
             | FROM lineitem GROUP BY 1)
             |SELECT l_returnflag,
             | CAST(generate_subscripts(qs, 1) - 1 AS BIGINT) AS qi,
             | round(unnest(qs), 4) AS qv
             |FROM q""".stripMargin)),

    Q("q122_table_checksum",
      (s, d) => {
        // order-independent table fingerprint: md5-derived row hash folded
        // to 40 bits, XOR-folded per group — commutative AND closed under
        // 64-bit arithmetic (a SUM of 40-bit hashes overflows a signed long
        // at ~2^24 rows/group, exactly the scale this operator targets, and
        // Spark wraps while DuckDB promotes to HUGEINT). XOR never widens.
        // The row repr includes the (l_orderkey, l_linenumber) primary key,
        // so identical-row cancellation can't occur. This is the anti-entropy
        // primitive for verifying a 100 TB copy: one scan, one tiny partial
        // agg, no sort. (Float columns excluded: their string rendering is
        // engine-specific; ints/strings are canonical.)
        val rowRepr = concat_ws("|", col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"), col("l_returnflag"),
          col("l_linestatus"))
        T(s, d, "lineitem")
          .select(col("l_returnflag"), (graft.expr.Hash60.h60Col(rowRepr) % 1099511627776L).as("h40"))
          .groupBy(col("l_returnflag"))
          .agg(expr("bit_xor(h40)").as("checksum"), count(lit(1)).as("n_rows"))
      },
      Some(s"""WITH h AS (SELECT l_returnflag,
              |  ${duckH60("CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || l_returnflag || '|' || l_linestatus")} % 1099511627776 AS h40
              | FROM lineitem)
              |SELECT l_returnflag, CAST(bit_xor(h40) AS BIGINT) AS checksum,
              | count(*) AS n_rows
              |FROM h GROUP BY 1""".stripMargin)),

    Q("q123_hll_merge",
      (s, d) => {
        // sketch MERGEABILITY (the property that matters at 1000 executors):
        // per-flag HLL registers (q75's construction) merged by register max
        // across two groups, estimating the distinct-union without rescanning
        // — compared against the exact union count
        val li = T(s, d, "lineitem").filter(col("l_returnflag").isin("A", "R"))
        val th = conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
          .cast("long")
        val reg = li.select(col("l_returnflag"), th.as("th"))
          .select(col("l_returnflag"), col("th").bitwiseAND(lit(511L)).as("bucket"),
            shiftright(col("th"), 9).as("rem"))
          .withColumn("rho",
            when(col("rem") === 0, lit(52)).otherwise(lit(52) - length(bin(col("rem")))))
          .groupBy(col("l_returnflag"), col("bucket")).agg(max(col("rho")).as("m"))
        val merged = reg.groupBy(col("bucket")).agg(max(col("m")).as("m"))
        val harm = merged.agg(sum(pow(lit(2.0), -col("m"))).as("s_present"),
          count(lit(1)).as("n_present"))
        val exact = li.agg(countDistinct(col("l_orderkey")).as("n_exact"))
        harm.crossJoin(exact)
          .select(col("n_exact"),
            round(lit(0.7213 / (1.0 + 1.079 / 512.0)) * lit(262144.0)
              / (col("s_present") + (lit(512L) - col("n_present")).cast("double")), 4)
              .as("hll_union_estimate"))
      },
      Some("""WITH li AS (SELECT * FROM lineitem WHERE l_returnflag IN ('A', 'R')),
             |th AS (SELECT l_returnflag,
             |  CAST(list_sum(list_transform(range(15),
             |    i -> (strpos('0123456789abcdef', substring(md5(CAST(l_orderkey AS VARCHAR)), CAST(i AS INT)+1, 1)) - 1)::BIGINT
             |         << (4*(14-CAST(i AS INT))))) AS BIGINT) AS th
             |  FROM li),
             |reg AS (SELECT l_returnflag, th & 511 AS bucket,
             |  CASE WHEN (th >> 9) = 0 THEN 52 ELSE 52 - length(bin(th >> 9)) END AS rho
             | FROM th),
             |mx AS (SELECT l_returnflag, bucket, max(rho) AS m FROM reg GROUP BY 1, 2),
             |mg AS (SELECT bucket, max(m) AS m FROM mx GROUP BY 1),
             |hs AS (SELECT sum(pow(2.0, -m)) AS s_present, count(*) AS n_present FROM mg),
             |ex AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM li)
             |SELECT ex.n_exact,
             | round((0.7213/(1.0+1.079/512.0)) * 262144.0
             |   / (hs.s_present + CAST(512 - hs.n_present AS DOUBLE)), 4) AS hll_union_estimate
             |FROM hs, ex""".stripMargin)),

    Q("q120_kmeans_codebook",
      (s, d) => graft.ops.Quantize.kmeansCodebook(
        T(s, d, "embeddings"), k = 8, rounds = 2),
      Some(kmeansOracle)),

    Q("q116_random_walks",
      (s, d) => {
        val e = FreshCheckpoint(psEdges(s, d))
        val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
        graft.graph.Analytics.deterministicWalks(und, walkSteps)
      },
      Some(walkOracle)),

    Q("q119_count_min_sketch",
      (s, d) => {
        // count-min sketch (d=4 rows × w=256 buckets) over lineitem part
        // keys, md5-derived row hashes — the sketch build is one
        // (row, bucket)-keyed partial agg (1024 cells regardless of input
        // size: mergeable across 1000 executors), estimates are min over a
        // key's 4 cells. Like the HLL (q75): an approximate operator whose
        // integer construction the oracle replays EXACTLY. Queried for keys
        // with true count ≥ 40 alongside exact counts (est ≥ exact always;
        // overestimate bounded by collisions).
        // hash per DISTINCT key, not per event row: the (key, j) bucket is
        // key-functional, so the sketch builds from the per-key count table —
        // |keys|×4 md5 evaluations instead of |rows|×4 (30× fewer here), and
        // the cell count is the SUM of member-key counts, identically
        val li = T(s, d, "lineitem")
        val perKey = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
        val keyBuckets = perKey.select(col("l_partkey"), col("n"),
            explode(expr("sequence(0, 3)")).as("j"))
          .select(col("l_partkey"), col("n"), col("j"),
            (graft.expr.Hash60.h60Col(concat(col("l_partkey").cast("string"), lit(":"), col("j"))) % 256)
              .as("bucket"))
        val cells = keyBuckets.groupBy(col("j"), col("bucket"))
          .agg(sum(col("n")).as("cnt"))
        val keyCells = keyBuckets.filter(col("n") >= 40)
          .join(cells, Seq("j", "bucket"))
          .groupBy(col("l_partkey")).agg(min(col("cnt")).as("n_est"))
        perKey.filter(col("n") >= 40)
          .select(col("l_partkey"), col("n").as("n_exact"))
          .join(keyCells, Seq("l_partkey"))
          .select(col("l_partkey"), col("n_exact"), col("n_est"))
      },
      Some(s"""WITH rows_h AS (
              | SELECT l_partkey, r.range AS j,
              |  ${duckH60("CAST(l_partkey AS VARCHAR) || ':' || CAST(r.range AS VARCHAR)")} % 256 AS bucket
              | FROM lineitem, range(4) r),
              |cells AS (SELECT j, bucket, count(*) AS cnt FROM rows_h GROUP BY 1, 2),
              |exact AS (SELECT l_partkey, count(*) AS n_exact FROM lineitem
              |          GROUP BY 1 HAVING count(*) >= 40),
              |kb AS (SELECT e.l_partkey, r.range AS j,
              |  ${duckH60("CAST(e.l_partkey AS VARCHAR) || ':' || CAST(r.range AS VARCHAR)")} % 256 AS bucket
              | FROM exact e, range(4) r),
              |est AS (SELECT kb.l_partkey, min(c.cnt) AS n_est
              | FROM kb JOIN cells c ON c.j = kb.j AND c.bucket = kb.bucket
              | GROUP BY 1)
              |SELECT e.l_partkey, e.n_exact, CAST(s.n_est AS BIGINT) AS n_est
              |FROM exact e JOIN est s ON s.l_partkey = e.l_partkey""".stripMargin)),

    Q("q117_session_window",
      (s, d) => {
        // Spark's NATIVE session_window operator (merging dynamic-gap
        // windows — the stock alternative to q47's flatMapGroupsWithState
        // sessionization). Gap comparisons happen at full timestamp
        // precision; a gap of exactly 30min starts a NEW session (event at
        // ts+gap falls outside [ts, ts+gap)) — the oracle replays both at µs.
        T(s, d, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("total_value"))
          .select(col("user_id"),
            unix_timestamp(col("sw.start")).as("session_start"),
            col("n_events"), col("total_value"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |numbered AS (
             |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
             |  FROM flagged)
             |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
             | count(*) AS n_events, round(sum(value), 2) AS total_value
             |FROM numbered GROUP BY user_id, session_seq""".stripMargin)),

    Q("q118_scd2_intervals",
      (s, d) => {
        // SCD-type-2 dimension build: each (user, signup) event's value is
        // valid from its timestamp until the next signup by the same user;
        // open interval (NULL valid_to) marks the current row. One window
        // pass on the natural (user_id) partitioning.
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        T(s, d, "events").filter(col("event_type") === "signup")
          .select(col("user_id"), round(col("value"), 2).as("attr"),
            unix_timestamp(col("ts")).as("valid_from"),
            unix_timestamp(lead(col("ts"), 1).over(w)).as("valid_to"),
            when(lead(col("ts"), 1).over(w).isNull, 1L).otherwise(0L).as("is_current"))
      },
      Some("""SELECT user_id, round(value, 2) AS attr,
             | CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
             | CAST(floor(epoch(lead(ts, 1) OVER w)) AS BIGINT) AS valid_to,
             | CASE WHEN lead(ts, 1) OVER w IS NULL THEN CAST(1 AS BIGINT)
             |      ELSE CAST(0 AS BIGINT) END AS is_current
             |FROM events WHERE event_type = 'signup'
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)))

  private val ext7Qs = Seq(
    Q("q151_substring_spans",
      (s, d) => graft.ops.Dedup.repeatedSpans(T(s, d, "documents"), 64, 16),
      // span hash replay: CAST('0x'||hex AS UBIGINT) parses the same 15-hex
      // prefix conv() does on the Spark side — bit-identical 60-bit keys, so
      // even a hash collision would collide identically in both engines
      Some("""WITH sp AS (
             |  SELECT doc_id,
             |    CAST(CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 64)), 1, 15) AS UBIGINT) AS BIGINT) AS h
             |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 63, 16)) AS i
             |        FROM documents WHERE length(text) >= 64)),
             |dup AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
             |tot AS (SELECT doc_id, count(*) AS total_spans FROM sp GROUP BY 1),
             |dps AS (SELECT sp.doc_id, count(*) AS dup_spans FROM sp JOIN dup USING (h) GROUP BY 1)
             |SELECT t.doc_id, CAST(t.total_spans AS BIGINT) AS total_spans,
             |  CAST(COALESCE(p.dup_spans, 0) AS BIGINT) AS dup_spans,
             |  floor(COALESCE(p.dup_spans, 0) * 1000000.0 / t.total_spans) / 1000000.0 AS dup_frac
             |FROM tot t LEFT JOIN dps p USING (doc_id)""".stripMargin)),

    Q("q152_pq_ann",
      (s, d) => graft.ops.Quantize.pqTopK(T(s, d, "embeddings"),
        m = 4, k = 8, rounds = 2, nQueries = 5, topK = 10, dim = 64),
      // full PQ replay: 2 Lloyd rounds per subspace (c0..c2), final codes,
      // per-query ADC table against c2, integer micro-unit distances — every
      // stage exact, same unrolled-CTE discipline as q120's codebook oracle
      Some("""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |iv AS MATERIALIZED (SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS sub,
             |   CAST((i - 1) % 16 AS BIGINT) AS dl,
             |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x FROM f),
             |c0 AS (SELECT vec_id AS cid, sub, dl, x AS cx FROM iv WHERE vec_id IN (
             |   SELECT DISTINCT vec_id FROM iv ORDER BY vec_id LIMIT 8)),
             |a0 AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
             |  SELECT vec_id, sub, cid,
             |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM (
             |   SELECT iv.vec_id, iv.sub, c.cid, sum((iv.x - c.cx) * (iv.x - c.cx)) AS dist
             |   FROM iv JOIN c0 c ON c.sub = iv.sub AND c.dl = iv.dl GROUP BY 1, 2, 3)) WHERE rn = 1),
             |c1 AS MATERIALIZED (SELECT a.cid, a.sub, iv.dl,
             |  CAST(floor(sum(iv.x)::DOUBLE / count(*)) AS BIGINT) AS cx
             | FROM a0 a JOIN iv ON iv.vec_id = a.vec_id AND iv.sub = a.sub GROUP BY 1, 2, 3),
             |a1 AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
             |  SELECT vec_id, sub, cid,
             |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM (
             |   SELECT iv.vec_id, iv.sub, c.cid, sum((iv.x - c.cx) * (iv.x - c.cx)) AS dist
             |   FROM iv JOIN c1 c ON c.sub = iv.sub AND c.dl = iv.dl GROUP BY 1, 2, 3)) WHERE rn = 1),
             |c2 AS MATERIALIZED (SELECT a.cid, a.sub, iv.dl,
             |  CAST(floor(sum(iv.x)::DOUBLE / count(*)) AS BIGINT) AS cx
             | FROM a1 a JOIN iv ON iv.vec_id = a.vec_id AND iv.sub = a.sub GROUP BY 1, 2, 3),
             |codes AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
             |  SELECT vec_id, sub, cid,
             |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM (
             |   SELECT iv.vec_id, iv.sub, c.cid, sum((iv.x - c.cx) * (iv.x - c.cx)) AS dist
             |   FROM iv JOIN c2 c ON c.sub = iv.sub AND c.dl = iv.dl GROUP BY 1, 2, 3)) WHERE rn = 1),
             |qd AS (SELECT iv.vec_id AS query_id, iv.sub, c.cid,
             |   sum((iv.x - c.cx) * (iv.x - c.cx)) AS qdist
             |  FROM iv JOIN c2 c ON c.sub = iv.sub AND c.dl = iv.dl
             |  WHERE iv.vec_id < 5 GROUP BY 1, 2, 3),
             |ad AS (SELECT qd.query_id, codes.vec_id, sum(qd.qdist) AS adist
             |  FROM codes JOIN qd ON qd.sub = codes.sub AND qd.cid = codes.cid
             |  WHERE codes.vec_id <> qd.query_id GROUP BY 1, 2),
             |ranked AS (SELECT query_id, vec_id, CAST(adist AS BIGINT) AS adist,
             |   CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS INT) AS rank
             |  FROM ad)
             |SELECT query_id, vec_id, adist, rank FROM ranked WHERE rank <= 10""".stripMargin)))

  private val ext8Qs = Seq(
    Q("q153_incremental_minhash",
      (s, d) => {
        // incremental corpus-growth shape: docs with id % 5 == 0 arrive as
        // the new batch; the rest are the already-accepted corpus whose
        // signature INDEX is reused (never re-shingled at scale)
        val docs = T(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val batch = docs.filter(col("doc_id") % 5 === 0)
        val corpusSigs = graft.ops.Dedup.minhashSignatures(corpus, 8)
        graft.ops.Dedup.incrementalMinhash(corpus, corpusSigs, batch, 8, 2, 0.8)
      },
      // same md5 signature/band replay as q35, restricted to batch probes:
      // corpus ∪ batch = all documents, so bands over `documents` equal the
      // index ∪ batch union the operator joins against
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
             |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
             |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
             |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
             |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
             |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
             |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
             |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
             |   AND x.doc_id < y.doc_id
             |  WHERE y.doc_id % 5 = 0),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
             |inter AS (SELECT c.a, c.b, count(*) AS i
             |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
             |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
             |  GROUP BY 1, 2),
             |ver AS (SELECT c.b AS doc_id, min(c.a) AS dup_of
             |  FROM cand c
             |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             |  JOIN sizes sa ON sa.doc_id = c.a
             |  JOIN sizes sb ON sb.doc_id = c.b
             |  WHERE floor(CAST(coalesce(i.i, 0) AS DOUBLE)
             |      / (sa.sz + sb.sz - coalesce(i.i, 0)) * 1000000) / 1000000 >= 0.8
             |  GROUP BY 1)
             |SELECT d.doc_id, v.dup_of, v.dup_of IS NULL AS is_novel
             |FROM documents d LEFT JOIN ver v USING (doc_id)
             |WHERE d.doc_id % 5 = 0""".stripMargin)))

  private val ext9Qs = Seq(
    Q("q154_bm25_topk",
      (s, d) => graft.ops.TextAnalysis.bm25TopK(T(s, d, "documents")),
      // integer micro-unit BM25 replay: idf_u and the saturation term are
      // floored to 1e-6 BEFORE the sum, so the score is an order-independent
      // BIGINT on both engines; fractional constants are ::DOUBLE to keep
      // DuckDB out of DECIMAL arithmetic
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |sl AS (SELECT CAST(sum(tf) AS BIGINT) AS sl FROM tf),
             |idf AS (SELECT tok,
             |    CAST(floor(ln(CAST(1.0 AS DOUBLE) + (n.n - df + CAST(0.5 AS DOUBLE))
             |      / (df + CAST(0.5 AS DOUBLE))) * 1000000) AS BIGINT) AS idf_u
             |  FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1) d, n
             |  WHERE df >= 2 AND df * 2 <= n.n),
             |q AS (SELECT t.doc_id AS query_id, t.tok, i.idf_u
             |  FROM tf t JOIN idf i USING (tok) WHERE t.doc_id % 251 = 0),
             |scored AS (SELECT q.query_id, t.doc_id,
             |    CAST(sum(q.idf_u * CAST(floor((t.tf * CAST(2.2 AS DOUBLE)
             |      / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |        + CAST(0.75 AS DOUBLE) * ((l.len * n.n) / sl.sl)))) * 1000000) AS BIGINT))
             |      AS BIGINT) AS score_u
             |  FROM q JOIN tf t ON t.tok = q.tok
             |  JOIN len l ON l.doc_id = t.doc_id, n, sl
             |  GROUP BY 1, 2)
             |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score_u FROM (
             |  SELECT query_id, doc_id, score_u,
             |    row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS rank
             |  FROM scored) WHERE rank <= 5""".stripMargin)),

    Q("q155_leakage_split",
      (s, d) => {
        // near-dup clusters (same LSH family as q35) become the split unit:
        // a cluster never straddles the train/test boundary
        val docs = T(s, d, "documents")
        val pairs = graft.ops.Dedup.minhashLsh(docs, 8, 2, 0.8)
          .select(col("a"), col("b"))
        graft.ops.TrainingData.leakageSafeSplit(docs, pairs)
      },
      // q35's verified-pair replay + recursive transitive closure (q67's
      // pattern) + q111's h60 split keyed on the CLUSTER label
      Some(s"""WITH RECURSIVE words AS (
              |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
              |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
              |    x -> x <> '') AS tl FROM documents)),
              |toks AS (
              |  SELECT DISTINCT doc_id,
              |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
              |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
              |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
              |sig AS (SELECT doc_id,
              |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
              |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
              |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
              |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
              |  FROM toks GROUP BY doc_id),
              |bands AS (
              |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
              |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
              |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
              |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
              |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
              |   AND x.doc_id < y.doc_id),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
              |inter AS (SELECT c.a, c.b, count(*) AS i
              |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
              |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
              |  GROUP BY 1, 2),
              |nd AS (SELECT c.a, c.b FROM cand c
              |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
              |  JOIN sizes sa ON sa.doc_id = c.a
              |  JOIN sizes sb ON sb.doc_id = c.b
              |  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
              |      / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.8),
              |und(a, b) AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
              |r(s, id) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
              |cl AS (SELECT s AS doc_id, min(id) AS cluster FROM r GROUP BY s)
              |SELECT doc_id, cluster,
              |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM (SELECT doc_id, cluster,
              |  ${duckH60("CAST(cluster AS VARCHAR)")} % 100 AS h FROM cl)""".stripMargin)),

    Q("q157_cluster_keeper",
      (s, d) => {
        val docs = T(s, d, "documents")
        val pairs = graft.ops.Dedup.minhashLsh(docs, 8, 2, 0.8)
          .select(col("a"), col("b"))
        graft.ops.Dedup.clusterKeepers(docs, pairs)
      },
      // q155's verified-pair + closure chain, then a longest-copy election
      // per cluster (ties to the smallest doc_id)
      Some("""WITH RECURSIVE words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
             |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
             |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
             |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
             |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
             |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
             |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
             |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
             |   AND x.doc_id < y.doc_id),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
             |inter AS (SELECT c.a, c.b, count(*) AS i
             |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
             |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
             |  GROUP BY 1, 2),
             |nd AS (SELECT c.a, c.b FROM cand c
             |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             |  JOIN sizes sa ON sa.doc_id = c.a
             |  JOIN sizes sb ON sb.doc_id = c.b
             |  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
             |      / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.8),
             |und(a, b) AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
             |r(s, id) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
             |cl AS (SELECT s AS doc_id, min(id) AS cluster FROM r GROUP BY s),
             |nt AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
             |    AS BIGINT) AS n_tokens FROM documents)
             |SELECT cl.doc_id, cl.cluster, nt.n_tokens,
             |  row_number() OVER (PARTITION BY cl.cluster
             |    ORDER BY nt.n_tokens DESC, cl.doc_id) = 1 AS keep
             |FROM cl JOIN nt ON nt.doc_id = cl.doc_id""".stripMargin)),

    Q("q160_ohlc_downsample",
      (s, d) => {
        // per-user hourly OHLC candle — the standard temporal downsampling
        // shape for metric streams. Open/close are elected by window rank
        // over (ts, event_id) — a total order, so ties at the same
        // microsecond resolve identically in both engines; high/low/count
        // are plain partial-agg'd extrema
        val ev = events(s, d)
          .withColumn("hour", date_trunc("hour", col("ts")))
        val wAsc = Window.partitionBy(col("user_id"), col("hour"))
          .orderBy(col("ts"), col("event_id"))
        val wDesc = Window.partitionBy(col("user_id"), col("hour"))
          .orderBy(col("ts").desc, col("event_id").desc)
        ev.withColumn("rna", row_number().over(wAsc))
          .withColumn("rnd", row_number().over(wDesc))
          .groupBy(col("user_id"), col("hour"))
          .agg(
            max(when(col("rna") === 1, col("value"))).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(when(col("rnd") === 1, col("value"))).as("close"),
            count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_timestamp(col("hour")).as("hour_ts"),
            round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
            round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
            col("n_events"))
      },
      Some("""WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hour, ts,
             |    event_id, value,
             |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
             |      ORDER BY ts, event_id) AS rna,
             |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
             |      ORDER BY ts DESC, event_id DESC) AS rnd
             |  FROM events)
             |SELECT user_id, CAST(floor(epoch(hour)) AS BIGINT) AS hour_ts,
             |  round(max(CASE WHEN rna = 1 THEN value END), 6) AS open,
             |  round(max(value), 6) AS high,
             |  round(min(value), 6) AS low,
             |  round(max(CASE WHEN rnd = 1 THEN value END), 6) AS close,
             |  count(*) AS n_events
             |FROM e GROUP BY 1, 2""".stripMargin)),

    Q("q159_zorder_key",
      (s, d) => graft.ops.ZOrder.withKey(
          T(s, d, "lineitem"), "l_partkey", "l_suppkey", 16)
        .select(col("l_orderkey"), col("l_linenumber"), col("z")),
      Some("""WITH s AS (SELECT CAST(min(l_partkey) AS BIGINT) AS mna,
             |  CAST(max(l_partkey) AS BIGINT) AS mxa,
             |  CAST(min(l_suppkey) AS BIGINT) AS mnb,
             |  CAST(max(l_suppkey) AS BIGINT) AS mxb FROM lineitem),
             |k AS (SELECT l_orderkey, l_linenumber,
             |  CAST(floor((l_partkey - mna) * CAST(65536.0 AS DOUBLE)
             |    / (mxa - mna + 1)) AS BIGINT) AS ba,
             |  CAST(floor((l_suppkey - mnb) * CAST(65536.0 AS DOUBLE)
             |    / (mxb - mnb + 1)) AS BIGINT) AS bb
             |  FROM lineitem, s)
             |SELECT l_orderkey, l_linenumber,
             |  CAST(list_sum(list_transform(range(16), i ->
             |    (((ba >> i) & 1) << (2 * i))
             |      + (((bb >> i) & 1) << (2 * i + 1))))
             |    AS BIGINT) AS z
             |FROM k""".stripMargin)),

    Q("q158_snapshot_diff",
      (s, d) => {
        // deterministic synthetic snapshots of the same corpus: the "old"
        // snapshot misses doc_id % 7 == 0 (added later), the "new" one
        // dropped doc_id % 5 == 0, and doc_id % 3 == 0 texts were revised
        val docs = T(s, d, "documents")
        val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("text"))
        val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        graft.ops.TrainingData.snapshotDiff(oldSnap, newSnap)
      },
      Some("""WITH o AS (SELECT doc_id, md5(text) AS old_hash FROM documents
             |  WHERE doc_id % 7 <> 0),
             |n AS (SELECT doc_id,
             |    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END)
             |      AS new_hash
             |  FROM documents WHERE doc_id % 5 <> 0)
             |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             |  CASE WHEN o.old_hash IS NULL THEN 'added'
             |       WHEN n.new_hash IS NULL THEN 'removed'
             |       WHEN o.old_hash = n.new_hash THEN 'unchanged'
             |       ELSE 'changed' END AS status,
             |  o.old_hash, n.new_hash
             |FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id""".stripMargin)),

    Q("q156_scalar_quantize",
      (s, d) => graft.ops.Quantize.scalarQuantize(T(s, d, "embeddings")),
      // pure +,−,·,/,floor on doubles in pinned association order — both
      // engines run the identical IEEE ops, so every code and error term is
      // bit-equal; sums are integerized before aggregation
      Some("""WITH f AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |    generate_subscripts(embedding, 1) AS i FROM embeddings),
             |mm AS (SELECT vec_id, min(v) AS mn, max(v) AS mx, count(*) AS nd
             |  FROM f GROUP BY 1),
             |c AS (SELECT f.vec_id, f.i, f.v, mm.mn, mm.mx, mm.nd,
             |    CASE WHEN mm.mx = mm.mn THEN 0
             |      ELSE CAST(least(floor((f.v - mm.mn) * CAST(255.0 AS DOUBLE)
             |        / (mm.mx - mm.mn) + CAST(0.5 AS DOUBLE)), CAST(255.0 AS DOUBLE))
             |        AS BIGINT) END AS code
             |  FROM f JOIN mm USING (vec_id)),
             |r AS (SELECT vec_id, i, nd, mn, mx, code,
             |    (v - (mn + (code * (mx - mn)) / CAST(255.0 AS DOUBLE)))
             |      * (v - (mn + (code * (mx - mn)) / CAST(255.0 AS DOUBLE))) AS sq
             |  FROM c)
             |SELECT vec_id, CAST(nd AS BIGINT) AS n_dims,
             |  CAST(floor(mn * 1000000) AS BIGINT) AS mn_u,
             |  CAST(floor(mx * 1000000) AS BIGINT) AS mx_u,
             |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY i) AS codes,
             |  CAST(sum(CAST(floor(sq * 1000000000000.0) AS BIGINT)) AS BIGINT) AS err_u
             |FROM r GROUP BY vec_id, nd, mn, mx""".stripMargin)),

    Q("q161_gexf_relation",
      (s, d) => {
        // the GEXF export surface as a relation (serve/Gexf.relation — the
        // exact fields render() serializes: ids, resolved labels, viz color
        // channels, micro-unit positions, ordinal edge ids), over the
        // nation-region graph q147 lays out. A green row here certifies the
        // export path's field VALUES cross-engine, not just XML shape
        // (grapher.py:140-163 write_gexf).
        val e0 = T(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_regionkey").cast("long") + 1000L).as("dst"))
        val v = e0.select(col("src").as("id"))
          .unionByName(e0.select(col("dst").as("id"))).distinct()
        val pos = graft.graph.Layout.fruchtermanReingold(v, e0, layoutIters)
        val nodes = T(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("id"),
            col("n_name").as("label"), lit("green").as("color"))
          .unionByName(T(s, d, "region")
            .select((col("r_regionkey").cast("long") + 1000L).as("id"),
              col("r_name").as("label"), lit("red").as("color")))
          .join(pos, Seq("id"))
        graft.serve.Gexf.relation(nodes, e0)
      },
      Some(s"""$layoutOracleWith,
          |nat AS (SELECT CAST(n_nationkey AS BIGINT) AS nid, n_name AS label,
          |  'green' AS color FROM nation),
          |reg AS (SELECT CAST(r_regionkey AS BIGINT) + 1000 AS nid, r_name AS label,
          |  'red' AS color FROM region),
          |alln AS (SELECT * FROM nat UNION ALL SELECT * FROM reg),
          |nodes AS (SELECT 'node' AS kind, CAST(n.nid AS VARCHAR) AS id, n.label,
          |  CAST(CASE n.color WHEN 'red' THEN 255 WHEN 'green' THEN 6 ELSE 128 END AS BIGINT) AS cr,
          |  CAST(CASE n.color WHEN 'red' THEN 0 WHEN 'green' THEN 200 ELSE 128 END AS BIGINT) AS cg,
          |  CAST(CASE n.color WHEN 'red' THEN 0 WHEN 'green' THEN 50 ELSE 128 END AS BIGINT) AS cb,
          |  CAST(floor(p.x * 1000000) AS BIGINT) AS x_u,
          |  CAST(floor(p.y * 1000000) AS BIGINT) AS y_u,
          |  CAST(NULL AS VARCHAR) AS src, CAST(NULL AS VARCHAR) AS dst
          |  FROM alln n JOIN p$layoutIters p ON p.id = n.nid),
          |edges AS (SELECT 'edge' AS kind,
          |  CAST(row_number() OVER (ORDER BY CAST(u AS VARCHAR), CAST(v AS VARCHAR)) - 1 AS VARCHAR) AS id,
          |  CAST(NULL AS VARCHAR) AS label,
          |  CAST(NULL AS BIGINT) AS cr, CAST(NULL AS BIGINT) AS cg, CAST(NULL AS BIGINT) AS cb,
          |  CAST(NULL AS BIGINT) AS x_u, CAST(NULL AS BIGINT) AS y_u,
          |  CAST(u AS VARCHAR) AS src, CAST(v AS VARCHAR) AS dst FROM e0)
          |SELECT * FROM nodes UNION ALL SELECT * FROM edges""".stripMargin)))

  // ---------------------------------------------------------------- round-6 extensions
  // Link prediction over the co-purchase graph, domain balancing, weighted
  // deterministic sampling, and the declarative data-quality audit — all
  // integer- or md5-keyed so the oracle replays them exactly.
  private val ext10Qs = Seq(
    Q("q162_adamic_adar",
      (s, d) => {
        // candidate "related products": Adamic-Adar over the co-purchase-≥2
        // graph (same edge set q97/q109 traverse). Wedges enumerate via a
        // hash equi-join on the shared neighbor with a 64-degree hub cap, so
        // enumeration is bounded by cap·|E| — not corpus-quadratic.
        graft.graph.LinkPrediction.adamicAdar(
          graft.sources.Store.copurchase(s, d).filter(col("cnt") >= 2))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             |cp AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y
             |   ON x.ok = y.ok AND x.p < y.p GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT a AS u, b AS w FROM cp UNION ALL SELECT b AS u, a AS w FROM cp),
             |deg AS (SELECT u AS node, count(*) AS d FROM nb GROUP BY 1),
             |tw AS (SELECT nb.u, nb.w,
             |   CAST(floor(CAST(1000000.0 AS DOUBLE) / ln(deg.d)) AS BIGINT) AS term_u
             |  FROM nb JOIN deg ON deg.node = nb.w WHERE deg.d BETWEEN 2 AND 64),
             |wg AS (SELECT x.u AS u, y.u AS v, x.term_u
             |  FROM tw x JOIN tw y ON x.w = y.w AND x.u < y.u),
             |sc AS (SELECT wg.u, wg.v, CAST(sum(wg.term_u) AS BIGINT) AS score_u
             |  FROM wg LEFT JOIN cp e ON e.a = wg.u AND e.b = wg.v
             |  WHERE e.a IS NULL GROUP BY 1, 2)
             |SELECT u, v, score_u FROM sc ORDER BY score_u DESC, u, v LIMIT 100""".stripMargin)),

    Q("q163_source_cap",
      (s, d) => graft.ops.TrainingData.sourceCap(T(s, d, "documents")),
      Some("""WITH cap AS (SELECT CAST(count(*) * 2 // count(DISTINCT source) AS BIGINT) AS cap
             |  FROM documents),
             |r AS (SELECT doc_id, source,
             |   CAST(row_number() OVER (PARTITION BY source
             |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
             |  FROM documents)
             |SELECT doc_id, source, rk FROM r, cap WHERE rk <= cap.cap""".stripMargin)),

    Q("q164_weighted_sample",
      (s, d) => graft.ops.TrainingData.weightedSample(T(s, d, "documents")),
      Some(s"""SELECT doc_id, round(w, 6) AS weight, round(ln(u) / w, 9) AS samp_key
              |FROM (SELECT doc_id, ln(CAST(1.0 AS DOUBLE) + n_chars) AS w,
              |   CAST(${duckH60("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
              |     / CAST(1152921504606846976 AS DOUBLE) AS u
              |  FROM documents WHERE n_chars >= 1)
              |ORDER BY samp_key DESC, doc_id LIMIT 500""".stripMargin)),

    Q("q165_quality_audit",
      (s, d) => {
        import graft.ops.QualityAudit._
        audit(T(s, d, "lineitem"), Seq(
          NotNull("orderkey_not_null", "l_orderkey"),
          Bounds("quantity_range", "l_quantity", 1, 50),
          Bounds("discount_range", "l_discount", 0, 0.1),
          InSet("returnflag_domain", "l_returnflag", Seq("A", "N", "R")),
          Unique("pk_unique", Seq("l_orderkey", "l_linenumber")),
          RefIntegrity("orderkey_ri", "l_orderkey", T(s, d, "orders"), "o_orderkey"),
          RefIntegrity("partkey_ri", "l_partkey", T(s, d, "part"), "p_partkey")))
      },
      Some("""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total,
             |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
             |  CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
             |    THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
             |  CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1
             |    THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
             |  CAST(sum(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A', 'N', 'R')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS v_rf
             | FROM lineitem),
             |u AS (SELECT CAST(sum(cnt - 1) AS BIGINT) AS viol, CAST(sum(cnt) AS BIGINT) AS total
             |  FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber)),
             |r1 AS (SELECT CAST(count(*) AS BIGINT) AS viol FROM lineitem l
             |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
             |r2 AS (SELECT CAST(count(*) AS BIGINT) AS viol FROM lineitem l
             |  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
             |SELECT rule, violations, total, violations = 0 AS pass FROM (
             | SELECT 'orderkey_not_null' AS rule, v_nn AS violations, total FROM t
             | UNION ALL SELECT 'quantity_range', v_qty, total FROM t
             | UNION ALL SELECT 'discount_range', v_disc, total FROM t
             | UNION ALL SELECT 'returnflag_domain', v_rf, total FROM t
             | UNION ALL SELECT 'pk_unique', viol, total FROM u
             | UNION ALL SELECT 'orderkey_ri', viol, (SELECT total FROM t) FROM r1
             | UNION ALL SELECT 'partkey_ri', viol, (SELECT total FROM t) FROM r2)""".stripMargin)),

    Q("q166_unigram_logprob",
      (s, d) => graft.ops.TextAnalysis.unigramLogProb(T(s, d, "documents")),
      Some("""WITH tl AS (SELECT doc_id,
             |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |lm AS (SELECT tok, count(*) AS cnt FROM tl GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tl),
             |terms AS (SELECT t.doc_id,
             |   CAST(floor((ln(CAST(n.n AS DOUBLE)) - ln(CAST(lm.cnt AS DOUBLE)))
             |     * 1000000) AS BIGINT) AS term_u
             |  FROM tl t JOIN lm USING (tok), n)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(term_u) // count(*) AS BIGINT) AS avg_nll_u
             |FROM terms GROUP BY 1""".stripMargin)),

    Q("q167_cdc_chunk_dedup",
      (s, d) => graft.ops.Chunking.chunkDedup(T(s, d, "documents")),
      // NB: the position column must NOT be named `i` — duckH60 expands to
      // a list_transform lambda whose variable `i` would capture it and
      // hash a constant window (observed: every position became a boundary)
      Some(s"""WITH ch AS (SELECT doc_id, text, length(text) AS len FROM documents),
              |pos AS (SELECT doc_id, text, len, unnest(range(16, len + 1)) AS p
              |  FROM ch WHERE len >= 16),
              |bnd AS (SELECT doc_id, p FROM pos
              |  WHERE ${duckH60("substring(text, CAST(p - 15 AS INT), 16)")} % 64 = 0),
              |alb AS (SELECT DISTINCT doc_id, p FROM (
              |  SELECT doc_id, CAST(p AS BIGINT) AS p FROM bnd
              |  UNION ALL SELECT doc_id, 0 FROM ch
              |  UNION ALL SELECT doc_id, CAST(len AS BIGINT) FROM ch)),
              |sp AS (SELECT doc_id, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS s,
              |   p AS e FROM alb),
              |cks AS (SELECT c.doc_id,
              |   md5(substring(c.text, CAST(sp.s + 1 AS INT), CAST(sp.e - sp.s AS INT))) AS chunk_hash,
              |   CAST(sp.e - sp.s AS BIGINT) AS chunk_len
              |  FROM sp JOIN ch c ON c.doc_id = sp.doc_id
              |  WHERE sp.s IS NOT NULL AND sp.e > sp.s)
              |SELECT chunk_hash, chunk_len, CAST(count(*) AS BIGINT) AS n_copies,
              |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |FROM cks GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    Q("q168_pmi_pairs",
      (s, d) => graft.ops.TextAnalysis.pmiPairs(T(s, d, "documents")),
      Some("""WITH tl AS (SELECT doc_id, unnest(tl) AS tok, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |cw AS (SELECT tok, count(*) AS c FROM tl GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tl),
             |band AS (SELECT cw.tok, cw.c FROM cw, n WHERE cw.c >= 5 AND cw.c * 20 <= n.n),
             |t AS (SELECT tl.doc_id, tl.pos, tl.tok FROM tl JOIN band USING (tok)),
             |ev AS (SELECT least(x.tok, y.tok) AS a, greatest(x.tok, y.tok) AS b
             |  FROM t x JOIN t y ON x.doc_id = y.doc_id
             |    AND y.pos BETWEEN x.pos + 1 AND x.pos + 3),
             |p AS (SELECT CAST(count(*) AS BIGINT) AS p FROM ev),
             |cab AS (SELECT a, b, count(*) AS cab FROM ev GROUP BY 1, 2 HAVING count(*) >= 5)
             |SELECT cab.a, cab.b, CAST(cab.cab AS BIGINT) AS n_cooc,
             |  CAST(floor((ln(CAST(cab.cab AS DOUBLE)) - ln(CAST(p.p AS DOUBLE))
             |    + 2 * ln(CAST(n.n AS DOUBLE))
             |    - ln(CAST(ca.c AS DOUBLE)) - ln(CAST(cb.c AS DOUBLE)))
             |    * 1000000) AS BIGINT) AS pmi_u
             |FROM cab JOIN band ca ON ca.tok = cab.a
             |JOIN band cb ON cb.tok = cab.b, p, n
             |ORDER BY pmi_u DESC, cab.a, cab.b LIMIT 200""".stripMargin)),

    Q("q169_harmonic_centrality",
      (s, d) => graft.graph.Centrality.harmonicSampled(
        graft.sources.Store.copurchase(s, d).filter(col("cnt") >= 2)),
      Some("""WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             |cp AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y
             |   ON x.ok = y.ok AND x.p < y.p GROUP BY 1, 2 HAVING count(*) >= 2),
             |e AS (SELECT a, b FROM cp UNION SELECT b, a FROM cp),
             |src AS (SELECT DISTINCT a AS s FROM e WHERE a %
             |  (SELECT GREATEST(97, CAST(count(DISTINCT a) // 64 AS BIGINT)) FROM e) = 0),
             |bfs(s, v, d) AS (
             |  SELECT s, s, 0 FROM src
             |  UNION SELECT bfs.s, e.b, bfs.d + 1 FROM bfs JOIN e ON e.a = bfs.v
             |    WHERE bfs.d < 4),
             |md AS (SELECT s, v, min(d) AS d FROM bfs GROUP BY 1, 2)
             |SELECT v AS node,
             |  CAST(sum(CAST(floor(1000000.0 / d) AS BIGINT)) AS BIGINT) AS score_u,
             |  CAST(count(*) AS BIGINT) AS n_sources
             |FROM md WHERE d >= 1 GROUP BY 1""".stripMargin)),

    Q("q170_keywords",
      (s, d) => graft.ops.TextAnalysis.keywords(T(s, d, "documents")),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '')) AS tok FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |nd AS (SELECT count(*) AS nd FROM documents),
             |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1
             |  HAVING count(*) >= 2 AND count(*) * 2 <= (SELECT nd FROM nd)),
             |w AS (SELECT tf.doc_id, tf.tok,
             |   CAST(tf.tf * CAST(floor(1000.0 * (SELECT nd FROM nd) / dft.df) AS BIGINT)
             |     AS BIGINT) AS w_u
             |  FROM tf JOIN dft USING (tok))
             |SELECT doc_id, tok, w_u, CAST(rk AS BIGINT) AS rk FROM (
             |  SELECT doc_id, tok, w_u,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY w_u DESC, tok) AS rk
             |  FROM w) WHERE rk <= 3""".stripMargin)))

  // ---------------------------------------------------------------- round-6 batch 2
  // Time-series repair, robust outliers, positional fingerprinting,
  // containment dedup, bigram LM scoring, kNN label transfer.
  private val ext11Qs = Seq(
    Q("q171_interpolate",
      (s, d) => graft.ops.TimeSeries.interpolate(T(s, d, "events")),
      Some("""WITH obs AS (SELECT event_type,
             |   CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS bucket,
             |   round(avg(value), 4) AS v
             |  FROM events GROUP BY 1, 2),
             |rng AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
             |  FROM obs GROUP BY 1),
             |grid AS (SELECT event_type, unnest(range(lo, hi + 1, 300)) AS bucket FROM rng),
             |s AS (SELECT g.event_type, g.bucket, o.v
             |  FROM grid g LEFT JOIN obs o USING (event_type, bucket)),
             |nbrs AS (SELECT event_type, bucket, v,
             |   last_value(v IGNORE NULLS) OVER wp AS pv,
             |   last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wp AS pb,
             |   first_value(v IGNORE NULLS) OVER wn AS nv,
             |   first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wn AS nxb
             |  FROM s WINDOW
             |   wp AS (PARTITION BY event_type ORDER BY bucket
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |   wn AS (PARTITION BY event_type ORDER BY bucket
             |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
             |SELECT event_type, bucket,
             |  CAST(floor(coalesce(v, pv + (nv - pv)
             |    * CAST(bucket - pb AS DOUBLE) / CAST(nxb - pb AS DOUBLE))
             |    * 1000000) AS BIGINT) AS v_u,
             |  CASE WHEN v IS NOT NULL THEN 'obs'
             |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
             |       ELSE 'edge' END AS src
             |FROM nbrs""".stripMargin)),

    Q("q172_mad_outliers",
      (s, d) => graft.ops.TimeSeries.madOutliers(T(s, d, "events")),
      Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             |  FROM events GROUP BY 1),
             |mad AS (SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
             |  FROM events e JOIN med m USING (event_type) GROUP BY 1),
             |st AS (SELECT med.event_type, med.med, mad.mad
             |  FROM med JOIN mad USING (event_type) WHERE mad.mad > 0)
             |SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
             |  CAST(floor(abs(e.value - st.med) / st.mad * 1000000) AS BIGINT) AS dev_u
             |FROM events e JOIN st USING (event_type)
             |WHERE abs(e.value - st.med) > 3.5 * st.mad""".stripMargin)),

    Q("q173_winnowing",
      (s, d) => graft.ops.Winnowing.sharedFingerprints(T(s, d, "documents")),
      Some(s"""WITH ch AS (SELECT doc_id, text, length(text) AS len
              |  FROM documents WHERE length(text) >= 8),
              |pos AS (SELECT doc_id, text, unnest(range(1, len - 6)) AS p FROM ch),
              |h AS (SELECT doc_id, p,
              |   ${duckH60("substring(text, CAST(p AS INT), 8)")} AS h FROM pos),
              |sel AS (SELECT doc_id, h,
              |   min(h) OVER (PARTITION BY doc_id ORDER BY p
              |     ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS mn
              |  FROM h),
              |fp AS (SELECT DISTINCT doc_id, h FROM sel WHERE h <= coalesce(mn, h)),
              |rare AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 50),
              |fpc AS (SELECT fp.doc_id, fp.h FROM fp JOIN rare USING (h))
              |SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
              |FROM fpc x JOIN fpc y ON x.h = y.h AND x.doc_id < y.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= 8""".stripMargin)),

    Q("q174_containment",
      // n = 16: gram rarity IS the prefix filter's selectivity — at n = 8
      // this corpus's 13k-gram vocabulary made "rare" grams df≈300 and the
      // candidate set 9.8M pairs (33 s); at n = 16 the same 512 true pairs
      // emerge from 1.6k candidates
      (s, d) => graft.ops.Dedup.containment(T(s, d, "documents"), 16, 0.8),
      Some(s"""WITH g AS (SELECT DISTINCT doc_id,
             |   ${duckH60("substr(text, CAST(r.range AS INT), 16)")} AS tok
             |  FROM documents d JOIN range(1, 5000) r ON r.range <= length(d.text) - 15),
             |sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
             |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
             |  FROM g a JOIN g b ON a.tok = b.tok AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2)
             |SELECT inter.ia AS inner_id, inter.ib AS outer_id,
             |  CAST(floor(CAST(inter.i AS DOUBLE) / sa.sz * 1000000) AS BIGINT)
             |    AS containment_u
             |FROM inter JOIN sz sa ON sa.doc_id = inter.ia
             |WHERE floor(CAST(inter.i AS DOUBLE) / sa.sz * 1000000) >= 800000""".stripMargin)),

    Q("q175_bigram_logprob",
      (s, d) => graft.ops.TextAnalysis.bigramLogProb(T(s, d, "documents")),
      Some("""WITH tl AS (SELECT doc_id, unnest(tl) AS tok,
             |   generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |bg AS (SELECT x.doc_id, x.tok AS w1, y.tok AS w2
             |  FROM tl x JOIN tl y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1),
             |cw AS (SELECT tok AS w1, count(*) AS c1 FROM tl GROUP BY 1),
             |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cw),
             |cb AS (SELECT w1, w2, count(*) AS cab FROM bg GROUP BY 1, 2),
             |terms AS (SELECT bg.doc_id,
             |   CAST(floor((ln(CAST(cw.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))
             |     - ln(CAST(cb.cab AS DOUBLE) + 1)) * 1000000) AS BIGINT) AS term_u
             |  FROM bg JOIN cb USING (w1, w2) JOIN cw USING (w1), v)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  CAST(sum(term_u) // count(*) AS BIGINT) AS avg_nll_u
             |FROM terms GROUP BY 1""".stripMargin)),

    Q("q176_knn_classify",
      (s, d) => graft.ops.Similarity.knnClassify(T(s, d, "embeddings")),
      // cell-blocked kNN: the hyperplane-cell chain is the q150 oracle
      // helper (corpus-scaled signature cells), pairs restricted to equal
      // cells
      Some(hplaneCellStages(recursive = false) + s""",
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |pr AS (SELECT x.vec_id AS qa, y.vec_id AS vb
             |  FROM cells x JOIN cells y
             |    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
             |dots AS (SELECT pr.qa AS query_id, pr.vb AS vec_id,
             |   sum(CAST(q.v AS DOUBLE) * c.v) AS dp
             |  FROM pr JOIN f q ON q.vec_id = pr.qa
             |  JOIN f c ON c.vec_id = pr.vb AND c.i = q.i GROUP BY 1, 2),
             |cos AS (SELECT d.query_id, d.vec_id,
             |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |nbrs AS (SELECT query_id, vec_id FROM (SELECT *,
             |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
             |  FROM cos) WHERE rk <= 5),
             |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
             |votes AS (SELECT n.query_id, l.lbl AS nbr_label, count(*) AS n_votes
             |  FROM nbrs n JOIN lab l ON l.vec_id = n.vec_id GROUP BY 1, 2),
             |win AS (SELECT query_id, nbr_label, n_votes FROM (SELECT *,
             |   row_number() OVER (PARTITION BY query_id
             |     ORDER BY n_votes DESC, nbr_label) AS rk FROM votes) WHERE rk = 1)
             |SELECT w.query_id AS vec_id, l.lbl AS true_label,
             |  w.nbr_label AS pred_label, CAST(w.n_votes AS BIGINT) AS n_votes,
             |  l.lbl = w.nbr_label AS agree
             |FROM win w JOIN lab l ON l.vec_id = w.query_id""".stripMargin)))

  // ---------------------------------------------------------------- round-6 batch 3
  // Lakehouse maintenance (compaction planning, CDC merge-apply) and
  // tokenizer-training statistics.
  private val ext12Qs = Seq(
    Q("q177_compaction_plan",
      (s, d) => graft.ops.Compaction.planDocuments(T(s, d, "documents")),
      Some("""WITH inv AS (SELECT source, doc_id // 16 AS file_id,
             |   CAST(sum(n_chars) AS BIGINT) AS bytes FROM documents GROUP BY 1, 2),
             |b AS (SELECT source, file_id, bytes,
             |   coalesce(sum(bytes) OVER (PARTITION BY source
             |     ORDER BY bytes DESC, file_id
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |  FROM inv),
             |bb AS (SELECT source, file_id, bytes,
             |   CAST(cum_before // 65536 AS BIGINT) AS bin FROM b)
             |SELECT source, file_id, bytes, bin,
             |  CAST(sum(bytes) OVER (PARTITION BY source, bin) AS BIGINT) AS bin_bytes,
             |  CAST(count(*) OVER (PARTITION BY source, bin) AS BIGINT) AS bin_files,
             |  CAST(count(*) OVER (PARTITION BY source, bin) - 1 AS BIGINT) AS files_saved
             |FROM bb""".stripMargin)),

    Q("q178_bpe_pairs",
      (s, d) => graft.ops.TextAnalysis.bpePairStats(T(s, d, "documents")),
      Some("""WITH tw AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '')) AS w FROM documents),
             |wf AS (SELECT w, count(*) AS freq FROM tw GROUP BY 1),
             |pr AS (SELECT substring(w, CAST(p AS INT), 2) AS pair, freq
             |  FROM (SELECT w, freq, unnest(range(1, length(w))) AS p
             |        FROM wf WHERE length(w) >= 2))
             |SELECT pair, CAST(sum(freq) AS BIGINT) AS weight
             |FROM pr GROUP BY 1 ORDER BY weight DESC, pair LIMIT 100""".stripMargin)),

    Q("q179_cdc_apply",
      (s, d) => {
        // deterministic synthetic changelog over the documents snapshot:
        // %7 → update (uppercased text), %11 → delete, %13 → insert under a
        // shifted key. A key hit by both U and D stays, with the U payload
        // (anti-join drops it, the U row re-inserts it) — replayed as-is by
        // the oracle.
        val base = T(s, d, "documents")
        val cols = Seq(col("doc_id"), col("op"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        val changes = base.filter(col("doc_id") % 7 === 0)
          .withColumn("op", lit("U")).withColumn("text", upper(col("text")))
          .select(cols: _*)
          .unionByName(base.filter(col("doc_id") % 11 === 3)
            .withColumn("op", lit("D")).select(cols: _*))
          .unionByName(base.filter(col("doc_id") % 13 === 1)
            .withColumn("doc_id", col("doc_id") + 1000000)
            .withColumn("op", lit("I")).withColumn("text", reverse(col("text")))
            .select(cols: _*))
        graft.ops.TrainingData.applyChangelog(base, changes)
          .select(col("doc_id"), md5(col("text")).as("content_hash"),
            col("lang"), col("source"), col("n_chars"))
      },
      Some("""WITH surv AS (SELECT doc_id, text, lang, source, n_chars FROM documents
             |  WHERE NOT (doc_id % 7 = 0 OR doc_id % 11 = 3)),
             |u AS (SELECT doc_id, upper(text) AS text, lang, source, n_chars
             |  FROM documents WHERE doc_id % 7 = 0),
             |ins AS (SELECT doc_id + 1000000 AS doc_id, reverse(text) AS text,
             |   lang, source, n_chars FROM documents WHERE doc_id % 13 = 1)
             |SELECT doc_id, md5(text) AS content_hash, lang, source, n_chars
             |FROM (SELECT * FROM surv UNION ALL SELECT * FROM u
             |      UNION ALL SELECT * FROM ins)""".stripMargin)))

  // ---------------------------------------------------------------- round-6 batch 4
  // k-truss cohesion, mutual-kNN symmetrization, exact stratified folds.
  private val ext13Qs = Seq(
    Q("q180_ktruss",
      // k = 3 (support ≥ 1): the ≥2-shared-orders graph is triangle-sparse
      // (a 4-truss is empty at every sf), and a triangle whose edges all
      // survive round 1 is a fixpoint — so the k=3 output is exactly the
      // triangle-supported core, non-empty at every scale
      (s, d) => graft.graph.Analytics.kTruss(
        graft.sources.Store.copurchase(s, d).filter(col("cnt") >= 2), k = 3),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             |e0 AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y
             |   ON x.ok = y.ok AND x.p < y.p GROUP BY 1, 2 HAVING count(*) >= 2),
             |t0 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e0 e1
             |  JOIN e0 e2 ON e2.a = e1.b JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
             |c0 AS (SELECT a, b, count(*) AS s FROM (
             |  SELECT x AS a, y AS b FROM t0 UNION ALL SELECT x AS a, z AS b FROM t0
             |  UNION ALL SELECT y AS a, z AS b FROM t0) GROUP BY 1, 2),
             |e1 AS (SELECT a, b FROM c0 WHERE s >= 1),
             |t1 AS (SELECT p1.a AS x, p1.b AS y, p2.b AS z FROM e1 p1
             |  JOIN e1 p2 ON p2.a = p1.b JOIN e1 p3 ON p3.a = p1.a AND p3.b = p2.b),
             |c1 AS (SELECT a, b, count(*) AS s FROM (
             |  SELECT x AS a, y AS b FROM t1 UNION ALL SELECT x AS a, z AS b FROM t1
             |  UNION ALL SELECT y AS a, z AS b FROM t1) GROUP BY 1, 2)
             |SELECT a, b, CAST(s AS BIGINT) AS support FROM c1 WHERE s >= 1""".stripMargin)),

    Q("q181_mutual_knn",
      (s, d) => graft.ops.Similarity.mutualKnn(T(s, d, "embeddings")),
      Some(hplaneCellStages(recursive = false) + s""",
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |pr AS (SELECT x.vec_id AS qa, y.vec_id AS vb
             |  FROM cells x JOIN cells y
             |    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
             |dots AS (SELECT pr.qa AS query_id, pr.vb AS vec_id,
             |   sum(CAST(q.v AS DOUBLE) * c.v) AS dp
             |  FROM pr JOIN f q ON q.vec_id = pr.qa
             |  JOIN f c ON c.vec_id = pr.vb AND c.i = q.i GROUP BY 1, 2),
             |cos AS (SELECT d.query_id, d.vec_id,
             |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |nbrs AS (SELECT query_id, vec_id, cos FROM (SELECT *,
             |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
             |  FROM cos) WHERE rk <= 5)
             |SELECT x.query_id AS a, x.vec_id AS b, x.cos
             |FROM nbrs x JOIN nbrs y
             |  ON y.query_id = x.vec_id AND y.vec_id = x.query_id
             |WHERE x.query_id < x.vec_id""".stripMargin)),

    Q("q182_stratified_kfold",
      (s, d) => graft.ops.TrainingData.stratifiedFolds(T(s, d, "documents")),
      Some("""SELECT doc_id, lang, source,
             |  CAST((row_number() OVER (PARTITION BY lang, source
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 5 AS BIGINT) AS fold
             |FROM documents""".stripMargin)))

  /** Unrolled power-iteration stages for the q183 PCA oracle: p_r = S·v_{r-1},
    * v_r = round₉(p_r/‖p_r‖) — the q52 stage-replay discipline on the O(1)
    * scatter matrix. */
  private def pcaOracle(rounds: Int): String = {
    val base =
      """WITH f AS (SELECT vec_id, unnest(embedding) AS v,
        |   generate_subscripts(embedding, 1) AS i FROM embeddings),
        |iv AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
        |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x FROM f),
        |mu AS (SELECT d, CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS mu
        |  FROM iv GROUP BY 1),
        |ce AS MATERIALIZED (SELECT iv.vec_id, iv.d, iv.x - mu.mu AS c
        |  FROM iv JOIN mu USING (d)),
        |sc AS MATERIALIZED (SELECT a.d AS i, b.d AS j, CAST(sum(a.c * b.c) AS BIGINT) AS s
        |  FROM ce a JOIN ce b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |v0 AS (SELECT d, CAST(0.125 AS DOUBLE) AS v FROM mu)""".stripMargin
    val stages = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT sc.i AS d, sum(CAST(sc.s AS DOUBLE) * w.v) AS sv
         |  FROM sc JOIN v${r - 1} w ON w.d = sc.j GROUP BY 1),
         |v$r AS MATERIALIZED (SELECT d,
         |  round(sv / (SELECT sqrt(sum(sv * sv)) FROM p$r), 9) AS v FROM p$r)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"\nSELECT d, CAST(floor(v * 1000000) AS BIGINT) AS loading_u FROM v$rounds"
  }

  // ---------------------------------------------------------------- round-6 batch 5
  // Spectral analytics (PCA whitening direction) and drift monitoring (PSI).
  private val ext14Qs = Seq(
    Q("q183_pca_component",
      (s, d) => graft.ops.Decomposition.pcaTopComponent(T(s, d, "embeddings")),
      Some(pcaOracle(8))),

    Q("q184_psi_drift",
      (s, d) => graft.ops.Decomposition.psiDrift(
        T(s, d, "documents"), "n_chars", col("doc_id") % 2 === 0),
      Some("""WITH t AS (SELECT CAST(n_chars AS BIGINT) AS v,
             |   CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cmp' END AS side
             |  FROM documents),
             |rng AS (SELECT min(v) AS mn, max(v) AS mx FROM t WHERE side = 'ref'),
             |b AS (SELECT side, LEAST(9, GREATEST(0,
             |   CAST(((v - mn) * 10) // (mx - mn + 1) AS BIGINT))) AS bin FROM t, rng),
             |c AS (SELECT bin,
             |   CAST(sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             |   CAST(sum(CASE WHEN side = 'cmp' THEN 1 ELSE 0 END) AS BIGINT) AS n_cmp
             |  FROM b GROUP BY 1),
             |tot AS (SELECT sum(n_ref) AS tr, sum(n_cmp) AS tc FROM c)
             |SELECT bin, n_ref, n_cmp,
             |  CAST(floor((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)
             |    - CAST(n_cmp + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
             |    * (ln(CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE))
             |      - ln(CAST(n_cmp + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE)))
             |    * 1000000000) AS BIGINT) AS term_u
             |FROM c, tot""".stripMargin)))

  // ---------------------------------------------------------------- round-6 batch 6
  // Clustering and anomaly screening over the shared kmeans-cell machinery.
  private val ext15Qs = Seq(
    Q("q185_density_clusters",
      (s, d) => graft.ops.Similarity.densityClusters(T(s, d, "embeddings")),
      Some(hplaneCellStages(recursive = true) + s""",
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |pr AS (SELECT x.vec_id AS qa, y.vec_id AS vb
             |  FROM cells x JOIN cells y
             |    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
             |dots AS (SELECT pr.qa AS query_id, pr.vb AS vec_id,
             |   sum(CAST(q.v AS DOUBLE) * c.v) AS dp
             |  FROM pr JOIN f q ON q.vec_id = pr.qa
             |  JOIN f c ON c.vec_id = pr.vb AND c.i = q.i GROUP BY 1, 2),
             |cos AS (SELECT d.query_id, d.vec_id,
             |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |nbrs AS (SELECT query_id, vec_id, cos FROM (SELECT *,
             |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
             |  FROM cos) WHERE rk <= 5),
             |mut AS (SELECT x.query_id AS a, x.vec_id AS b
             |  FROM nbrs x JOIN nbrs y
             |    ON y.query_id = x.vec_id AND y.vec_id = x.query_id
             |  WHERE x.query_id < x.vec_id AND x.cos >= 0.0),
             |und AS (SELECT a, b FROM mut UNION SELECT b, a FROM mut),
             |vx AS (SELECT DISTINCT vec_id AS id FROM embeddings),
             |r(s, id) AS (SELECT id, id FROM vx
             |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
             |cc AS (SELECT s AS vec_id, min(id) AS cluster FROM r GROUP BY s),
             |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
             |  FROM cc GROUP BY 1)
             |SELECT cc.vec_id, cc.cluster, sz.cluster_size
             |FROM cc JOIN sz USING (cluster)""".stripMargin)),

    Q("q186_embedding_outliers",
      // the synthetic embeddings are uniform (max dist/median ratio 1.097 —
      // no natural anomalies at any cut), so the inventory query plants
      // five deterministic corrupt rows (10× magnitude under shifted ids)
      // and the op must flag exactly that contamination
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val planted = emb.filter(col("vec_id") < 5)
          .select((col("vec_id") + 1000000).as("vec_id"),
            // scale in DOUBLE: float×int multiplies in float here but in
            // double under DuckDB's list_transform — ±1 micro-unit skew
            transform(col("embedding"), v => v.cast("double") * 10d).as("embedding"),
            col("label"))
        graft.ops.Similarity.embeddingOutliers(emb.unionByName(planted))
      },
      Some(hplaneCellStages(recursive = false).replace(
        "FROM embeddings),",
        """FROM (SELECT vec_id, embedding FROM embeddings
          |  UNION ALL SELECT vec_id + 1000000,
          |    list_transform(embedding, v -> CAST(v AS DOUBLE) * 10)
          |  FROM embeddings WHERE vec_id < 5)),""".stripMargin) + s""",
             |cmu AS (SELECT c.cell, f2.i,
             |   CAST(floor(sum(f2.iv)::DOUBLE / count(*)) AS BIGINT) AS cx
             |  FROM cells c JOIN fi f2 ON f2.vec_id = c.vec_id GROUP BY 1, 2),
             |dst AS MATERIALIZED (SELECT c.vec_id, c.cell,
             |   sum((fi.iv - cmu.cx) * (fi.iv - cmu.cx)) AS dist
             |  FROM cells c JOIN fi ON fi.vec_id = c.vec_id
             |  JOIN cmu ON cmu.cell = c.cell AND cmu.i = fi.i GROUP BY 1, 2),
             |med AS (SELECT cell, quantile_cont(CAST(dist AS DOUBLE), 0.5) AS med
             |  FROM dst GROUP BY 1 HAVING quantile_cont(CAST(dist AS DOUBLE), 0.5) > 0)
             |SELECT a.vec_id, a.cell AS centroid, CAST(a.dist AS BIGINT) AS dist,
             |  CAST(floor(CAST(a.dist AS DOUBLE) / med.med * 1000000) AS BIGINT) AS ratio_u
             |FROM dst a JOIN med ON med.cell = a.cell
             |WHERE CAST(a.dist AS DOUBLE) > 4.0 * med.med""".stripMargin)))

  // ---------------------------------------------------------------- round-7 batch
  // HITS hubs/authorities, Matryoshka prefix-dim fidelity, corpus n-gram
  // diversity, densest-subgraph peeling.
  private val ext16Qs = Seq(
    Q("q187_hits",
      (s, d) => {
        // customer→nation→region DAG (the q81 graph): customers are pure
        // hubs, regions pure authorities, nations both — the structure
        // HITS separates and PageRank blurs
        val ec = T(s, d, "customer")
          .select(col("c_custkey").cast("long").as("src"),
            (col("c_nationkey").cast("long") + 1000000L).as("dst"))
        val en = T(s, d, "nation")
          .select((col("n_nationkey").cast("long") + 1000000L).as("src"),
            (col("n_regionkey").cast("long") + 2000000L).as("dst"))
        val e = ec.unionByName(en)
        val v = e.select(col("src").as("id"))
          .unionByName(e.select(col("dst").as("id"))).distinct()
        graft.graph.Centrality.hits(v, e, rounds = 3)
      },
      // Unrolled 3-round Gauss-Seidel chain, every stage MATERIALIZED (the
      // q52 replay discipline); all intermediate scores are exact integers
      Some {
        val stages = (1 to 3).map { k =>
          val prev = if (k == 1) "x0" else s"x${k - 1}"
          s"""a$k AS MATERIALIZED (SELECT x.id, x.hub, x.auth + coalesce(ai.inc, 0.0) AS auth
             |  FROM $prev x LEFT JOIN (SELECT e.dst AS id, sum(y.hub) AS inc
             |    FROM e JOIN $prev y ON y.id = e.src GROUP BY 1) ai ON ai.id = x.id),
             |x$k AS MATERIALIZED (SELECT a.id, a.hub + coalesce(hi.inc, 0.0) AS hub, a.auth
             |  FROM a$k a LEFT JOIN (SELECT e.src AS id, sum(y.auth) AS inc
             |    FROM e JOIN a$k y ON y.id = e.dst GROUP BY 1) hi ON hi.id = a.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH ec AS (SELECT CAST(c_custkey AS BIGINT) AS src,
           |   CAST(c_nationkey AS BIGINT) + 1000000 AS dst FROM customer),
           |en AS (SELECT CAST(n_nationkey AS BIGINT) + 1000000 AS src,
           |   CAST(n_regionkey AS BIGINT) + 2000000 AS dst FROM nation),
           |e AS MATERIALIZED (SELECT src, dst FROM ec UNION ALL SELECT src, dst FROM en),
           |v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)),
           |x0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS hub, 0.0::DOUBLE AS auth FROM v),
           |$stages,
           |nrm AS (SELECT sqrt(sum(hub*hub)) AS nh, sqrt(sum(auth*auth)) AS na FROM x3)
           |SELECT id, round(hub / (CASE WHEN nh = 0 THEN 1.0 ELSE nh END), 6) AS hub,
           |  round(auth / (CASE WHEN na = 0 THEN 1.0 ELSE na END), 6) AS auth
           |FROM x3, nrm""".stripMargin
      }),

    Q("q188_matryoshka_fidelity",
      (s, d) => graft.ops.Quantize.matryoshkaFidelity(T(s, d, "embeddings")),
      Some("""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |pr AS (SELECT a.vec_id AS qa, a.vec_id + 7 AS vb
             |  FROM (SELECT DISTINCT vec_id FROM embeddings) a
             |  JOIN (SELECT DISTINCT vec_id FROM embeddings) b ON b.vec_id = a.vec_id + 7),
             |j AS MATERIALIZED (SELECT pr.qa, fa.i, CAST(fa.v AS DOUBLE) AS va,
             |   CAST(fb.v AS DOUBLE) AS vb
             |  FROM pr JOIN f fa ON fa.vec_id = pr.qa
             |  JOIN f fb ON fb.vec_id = pr.vb AND fb.i = fa.i),
             |pd AS (SELECT j.qa, b.db,
             |   sum(CASE WHEN j.i <= b.db THEN j.va * j.vb ELSE 0 END) AS dp,
             |   sum(CASE WHEN j.i <= b.db THEN j.va * j.va ELSE 0 END) AS na2,
             |   sum(CASE WHEN j.i <= b.db THEN j.vb * j.vb ELSE 0 END) AS nb2,
             |   sum(j.va * j.vb) AS dpf, sum(j.va * j.va) AS naf,
             |   sum(j.vb * j.vb) AS nbf
             |  FROM j, (SELECT unnest([8, 16, 32]) AS db) b GROUP BY 1, 2),
             |er AS (SELECT qa, db, round(abs(
             |   (CASE WHEN na2 = 0 OR nb2 = 0 THEN 0.0
             |     ELSE round(dp / (sqrt(na2) * sqrt(nb2)), 6) END) -
             |   (CASE WHEN naf = 0 OR nbf = 0 THEN 0.0
             |     ELSE round(dpf / (sqrt(naf) * sqrt(nbf)), 6) END)) * 1000000) AS e
             |  FROM pd)
             |SELECT CAST(db AS BIGINT) AS dim_budget, CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(sum(e) AS BIGINT) AS sum_abs_err_u,
             |  CAST(max(e) AS BIGINT) AS max_abs_err_u
             |FROM er GROUP BY 1""".stripMargin)),

    Q("q189_corpus_diversity",
      (s, d) => graft.ops.TextAnalysis.corpusDiversity(T(s, d, "documents")),
      Some("""WITH tl AS (SELECT list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents),
             |g AS (
             |  SELECT 1 AS n, unnest(tl) AS gram FROM tl
             |  UNION ALL
             |  SELECT 2, array_to_string(tl[i:i+1], ' ')
             |  FROM (SELECT tl, unnest(range(1, len(tl))) AS i FROM tl)
             |  UNION ALL
             |  SELECT 3, array_to_string(tl[i:i+2], ' ')
             |  FROM (SELECT tl, unnest(range(1, len(tl) - 1)) AS i FROM tl)),
             |gc AS (SELECT n, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
             |SELECT CAST(n AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS total_grams,
             |  CAST(count(*) AS BIGINT) AS distinct_grams,
             |  CAST(max(cnt) AS BIGINT) AS max_gram_count,
             |  CAST(count(*) * 1000000 // sum(cnt) AS BIGINT) AS ttr_u,
             |  CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS top_share_u
             |FROM gc GROUP BY 1""".stripMargin)),

    Q("q190_densest_subgraph",
      (s, d) => graft.graph.Analytics.densestSubgraph(
        T(s, d, "lineitem").select(col("l_partkey").cast("long").as("a"),
          (col("l_suppkey").cast("long") + 1000000L).as("b")).distinct(),
        rounds = 4),
      // Unrolled 4-round peel over the part↔supplier co-occurrence graph;
      // peel predicate and density are pure integer arithmetic
      Some {
        val stages = (0 until 4).map { r =>
          s"""d$r AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
             |   SELECT a AS v FROM e$r UNION ALL SELECT b FROM e$r) GROUP BY 1),
             |t$r AS (SELECT count(*) AS nv,
             |   CAST(coalesce(sum(deg), 0) // 2 AS BIGINT) AS ne FROM d$r),
             |k$r AS (SELECT d.v FROM d$r d, t$r t WHERE d.deg * t.nv * 10 > t.ne * 2 * 11),
             |e${r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$r e
             |  JOIN k$r x ON x.v = e.a JOIN k$r y ON y.v = e.b)""".stripMargin
        }.mkString(",\n")
        val statRows = (0 to 4).map { r =>
          s"SELECT $r AS round, nv, ne FROM t$r"
        }.mkString("\nUNION ALL ")
        s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
           |   CAST(l_suppkey AS BIGINT) + 1000000 AS b FROM lineitem),
           |$stages,
           |d4 AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
           |   SELECT a AS v FROM e4 UNION ALL SELECT b FROM e4) GROUP BY 1),
           |t4 AS (SELECT count(*) AS nv,
           |   CAST(coalesce(sum(deg), 0) // 2 AS BIGINT) AS ne FROM d4),
           |st AS ($statRows)
           |SELECT CAST(round AS BIGINT) AS round, CAST(nv AS BIGINT) AS n_vertices,
           |  CAST(ne AS BIGINT) AS n_edges,
           |  CAST(CASE WHEN nv > 0 THEN ne * 1000000 // nv ELSE 0 END AS BIGINT) AS density_u,
           |  row_number() OVER (ORDER BY
           |    (CASE WHEN nv > 0 THEN ne * 1000000 // nv ELSE 0 END) DESC, round) = 1 AS is_best
           |FROM st""".stripMargin
      }))

  // ---------------------------------------------------------------- round-7 batch 2
  // Record linkage, cross-source dup matrix, JL projection audit,
  // cluster silhouette.
  private val ext17Qs = Seq(
    Q("q191_record_linkage",
      (s, d) => graft.ops.RecordLinkage.linkParts(T(s, d, "part")),
      // the oracle enumerates candidates naively per mfgr block (the
      // prefix filter is lossless for dist <= maxDist, so the verified
      // pair sets agree); scoring is pure integer arithmetic
      Some("""WITH cand AS (SELECT a.p_partkey AS pa, b.p_partkey AS pb,
             |   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
             |   a.p_brand AS ba, b.p_brand AS bb,
             |   a.p_size AS za, b.p_size AS zb,
             |   CAST(floor(a.p_retailprice * 100) AS BIGINT) AS pa_c,
             |   CAST(floor(b.p_retailprice * 100) AS BIGINT) AS pb_c
             |  FROM part a JOIN part b ON a.p_type = b.p_type
             |   AND a.p_partkey < b.p_partkey
             |   AND abs(strlen(a.p_name) - strlen(b.p_name)) <= 1
             |  WHERE levenshtein(a.p_name, b.p_name) <= 1),
             |sc AS (SELECT pa, pb, dist,
             |   500000 - dist * 150000
             |   + CASE WHEN ba = bb THEN 200000 ELSE 0 END
             |   + CASE WHEN abs(za - zb) <= 1 THEN 100000 ELSE 0 END
             |   + CASE WHEN abs(pa_c - pb_c) <= 100 THEN 50000 ELSE 0 END AS score_u
             |  FROM cand)
             |SELECT pa, pb, dist, CAST(score_u AS BIGINT) AS score_u,
             |  CASE WHEN score_u >= 700000 THEN 'match'
             |       WHEN score_u >= 400000 THEN 'possible' END AS band
             |FROM sc WHERE score_u >= 400000""".stripMargin)),

    Q("q192_cross_source_matrix",
      (s, d) => graft.ops.Dedup.crossSourceMatrix(T(s, d, "documents")),
      Some(minhashPairCtes() + """
             |SELECT least(da.source, db.source) AS source_x,
             |  greatest(da.source, db.source) AS source_y,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(sum(CAST(round(mh.jaccard * 1000000) AS BIGINT)) AS BIGINT) AS sum_j_u,
             |  CAST(max(CAST(round(mh.jaccard * 1000000) AS BIGINT)) AS BIGINT) AS max_j_u
             |FROM mh JOIN documents da ON da.doc_id = mh.a
             |JOIN documents db ON db.doc_id = mh.b
             |GROUP BY 1, 2""".stripMargin)),

    Q("q193_jl_projection",
      (s, d) => graft.ops.Decomposition.jlProjectionAudit(T(s, d, "embeddings")),
      Some(s"""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |iv AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
             |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x FROM f),
             |sg AS (SELECT p AS j, d,
             |   CASE WHEN (list_sum(list_transform(range(15), jj ->
             |      CAST(strpos('0123456789abcdef', substr(md5(p || ':' || d), CAST(jj + 1 AS INT), 1)) - 1
             |        AS BIGINT) * (1::BIGINT << CAST(4 * (14 - jj) AS INT)))) % 2001) - 1000 >= 0
             |     THEN 1 ELSE -1 END AS sgn
             |  FROM range(16) t(p), range(64) s(d)),
             |pj AS MATERIALIZED (SELECT iv.vec_id, sg.j, sum(sg.sgn * iv.x) AS p
             |  FROM iv JOIN sg ON sg.d = iv.d GROUP BY 1, 2),
             |dp AS (SELECT a.vec_id, sum((a.p - b.p) * (a.p - b.p)) AS d2_proj
             |  FROM pj a JOIN pj b ON b.vec_id = a.vec_id + 7 AND b.j = a.j GROUP BY 1),
             |dorig AS (SELECT a.vec_id, sum((a.x - b.x) * (a.x - b.x)) AS d2_orig
             |  FROM iv a JOIN iv b ON b.vec_id = a.vec_id + 7 AND b.d = a.d GROUP BY 1),
             |r AS (SELECT dp.vec_id,
             |   CAST(dp.d2_proj // greatest(1, (16 * dorig.d2_orig) // 1000000) AS BIGINT) AS ratio_u
             |  FROM dp JOIN dorig ON dorig.vec_id = dp.vec_id
             |  WHERE dorig.d2_orig >= 1000000)
             |SELECT CAST(ratio_u // 100000 AS BIGINT) AS band,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(min(ratio_u) AS BIGINT) AS min_ratio_u,
             |  CAST(max(ratio_u) AS BIGINT) AS max_ratio_u
             |FROM r GROUP BY 1""".stripMargin)),

    Q("q194_cluster_silhouette",
      (s, d) => graft.ops.Quantize.clusterSilhouette(T(s, d, "embeddings")),
      // the kmeans chain through the final codebook c2, then BOTH nearest
      // and runner-up distances per vector (a2 keeps only rn = 1)
      Some(kmeansStages(recursive = false) + s""",
             |sall AS (SELECT vec_id, cid, dist,
             |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             |  FROM (SELECT iv.vec_id, c.cid, sum((iv.x - c.cx) * (iv.x - c.cx)) AS dist
             |        FROM iv JOIN c2 c ON c.d = iv.d GROUP BY 1, 2)),
             |ab AS (SELECT a.vec_id, a.cid, a.dist AS da, b.dist AS db
             |  FROM sall a JOIN sall b ON b.vec_id = a.vec_id
             |   AND a.rn = 1 AND b.rn = 2),
             |s AS (SELECT cid,
             |   CASE WHEN greatest(da, db) < 9000000000000
             |     THEN (db - da) * 1000000 // greatest(1, greatest(da, db))
             |     ELSE (db - da) // greatest(1, greatest(da, db) // 1000000)
             |   END AS s_u FROM ab)
             |SELECT CAST(cid AS BIGINT) AS centroid, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(s_u) // count(*) AS BIGINT) AS mean_s_u,
             |  CAST(min(s_u) AS BIGINT) AS min_s_u
             |FROM s GROUP BY 1""".stripMargin)))

  // ---------------------------------------------------------------- round-7 batch 3
  // ANN index-quality evaluation and dedup threshold calibration.
  private val ext18Qs = Seq(
    Q("q195_ann_recall",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding"))
        graft.ops.Similarity.annRecall(emb, queries, k = 10)
      },
      // exact chain (q38) + LSH chain (q98) under prefixed CTEs, then the
      // hit/recall/MRR rollup — all integer micro-units
      Some("""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |q AS (SELECT vec_id AS query_id, v AS qv, i FROM f WHERE vec_id < 5),
             |edots AS (SELECT q.query_id, f.vec_id, sum(CAST(q.qv AS DOUBLE) * f.v) AS dp
             |  FROM q JOIN f ON q.i = f.i WHERE f.vec_id <> q.query_id GROUP BY 1, 2),
             |ecos AS (SELECT d.query_id, d.vec_id,
             |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM edots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |exact AS (SELECT query_id, vec_id,
             |   CAST(row_number() OVER (PARTITION BY query_id
             |     ORDER BY cos DESC, vec_id) AS BIGINT) AS exact_rank
             |  FROM ecos QUALIFY exact_rank <= 10),
             |fi AS (SELECT vec_id, i,
             |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS iv FROM f),
             |planes AS (SELECT p, d,
             |   (list_sum(list_transform(range(15), j ->
             |      CAST(strpos('0123456789abcdef', substr(md5(p || ':' || d), CAST(j + 1 AS INT), 1)) - 1
             |        AS BIGINT) * (1::BIGINT << CAST(4 * (14 - j) AS INT)))) % 2001) - 1000 AS h
             |  FROM range(6) t(p), range(64) s(d)),
             |proj AS (SELECT fi.vec_id, pl.p, sum(fi.iv * pl.h) AS pr
             |  FROM fi JOIN planes pl ON pl.d = fi.i - 1 GROUP BY 1, 2),
             |sig AS (SELECT vec_id,
             |   CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS sig
             |  FROM proj GROUP BY 1),
             |acand AS (SELECT qs.vec_id AS query_id, cs.vec_id
             |  FROM (SELECT * FROM sig WHERE vec_id < 5) qs
             |  JOIN sig cs ON cs.sig = qs.sig AND cs.vec_id <> qs.vec_id),
             |adots AS (SELECT c.query_id, c.vec_id, sum(CAST(fq.v AS DOUBLE) * fc.v) AS dp
             |  FROM acand c JOIN f fq ON fq.vec_id = c.query_id
             |  JOIN f fc ON fc.vec_id = c.vec_id AND fc.i = fq.i GROUP BY 1, 2),
             |acos AS (SELECT d.query_id, d.vec_id, round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM adots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |approx AS (SELECT query_id, vec_id,
             |   CAST(row_number() OVER (PARTITION BY query_id
             |     ORDER BY cos DESC, vec_id) AS BIGINT) AS approx_rank
             |  FROM acos QUALIFY approx_rank <= 10),
             |hits AS (SELECT e.query_id, count(*) AS n_hit
             |  FROM exact e JOIN approx a ON a.query_id = e.query_id
             |   AND a.vec_id = e.vec_id GROUP BY 1),
             |perq AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
             |m AS (SELECT e.query_id,
             |   coalesce(CAST(1000000 // a.approx_rank AS BIGINT), 0) AS mrr_u
             |  FROM exact e LEFT JOIN approx a ON a.query_id = e.query_id
             |   AND a.vec_id = e.vec_id
             |  WHERE e.exact_rank = 1)
             |SELECT p.query_id, CAST(p.n_exact AS BIGINT) AS n_exact,
             |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             |  CAST(coalesce(h.n_hit, 0) * 1000000 // p.n_exact AS BIGINT) AS recall_u,
             |  CAST(coalesce(m.mrr_u, 0) AS BIGINT) AS mrr_u
             |FROM perq p LEFT JOIN hits h ON h.query_id = p.query_id
             |LEFT JOIN m ON m.query_id = p.query_id""".stripMargin)),

    Q("q196_threshold_sweep",
      (s, d) => graft.ops.Dedup.thresholdSweep(T(s, d, "documents")),
      Some(minhashPairCtes(0.0) + """,
             |bb AS (SELECT CAST(round(jaccard * 1000000) AS BIGINT) // 100000 AS band,
             |   a, b FROM mh),
             |dk AS (SELECT band, count(DISTINCT d) AS n_docs FROM (
             |   SELECT band, a AS d FROM bb UNION ALL SELECT band, b FROM bb)
             |  GROUP BY 1)
             |SELECT CAST(bb.band AS BIGINT) AS band,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(dk.n_docs AS BIGINT) AS n_docs
             |FROM bb JOIN dk ON dk.band = bb.band
             |GROUP BY 1, dk.n_docs""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch
  // PII scrub, perceptual near-dups, canonical entity resolution, and the
  // calibrate→commit dedup loop (threshold choice + calibrated dedup).
  /** Shared q201/q202 cut-statistics + choice CTEs over the `bb` banded
    * pair relation (appended after [[minhashPairCtes]](0.0)): per-cut
    * coverage over a total 0..10 spine, then the budgeted choice
    * (smallest cut with frac_u ≤ target, fallback 10). */
  private def cutChoiceCtes(targetFracU: Long): String =
    s"""bb AS (SELECT a, b,
       |   CAST(round(jaccard * 1000000) AS BIGINT) // 100000 AS band FROM mh),
       |pc AS (SELECT t.range AS cut, a, b FROM bb
       |  JOIN range(0, 11) t ON t.range <= bb.band),
       |spine AS (SELECT range AS cut FROM range(0, 11)),
       |pcnt AS (SELECT cut, count(*) AS n_pairs_ge FROM pc GROUP BY 1),
       |dcnt AS (SELECT cut, count(DISTINCT d) AS n_docs_ge FROM (
       |   SELECT cut, a AS d FROM pc UNION ALL SELECT cut, b FROM pc)
       |  GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM documents),
       |st AS (SELECT s.cut,
       |   coalesce(pcnt.n_pairs_ge, 0) AS n_pairs_ge,
       |   coalesce(dcnt.n_docs_ge, 0) AS n_docs_ge,
       |   coalesce(dcnt.n_docs_ge, 0) * 1000000 // tot.n_total AS frac_u
       |  FROM spine s
       |  LEFT JOIN pcnt ON pcnt.cut = s.cut
       |  LEFT JOIN dcnt ON dcnt.cut = s.cut, tot),
       |ch AS (SELECT coalesce(
       |   min(CASE WHEN frac_u <= $targetFracU THEN cut END), 10) AS chosen_cut
       |  FROM st)""".stripMargin

  private val ext19Qs = Seq(
    Q("q198_pii_scrub",
      // the corpus text is digit-free word soup, so the query plants
      // deterministic doc_id-derived PII (an email per doc; phone / SSN /
      // account-number classes on residue classes) — both engines build
      // the identical augmented corpus, then scrub it
      (s, d) => {
        val docs = T(s, d, "documents")
        val aug = docs.withColumn("text", concat(col("text"),
          lit(" reach u"), col("doc_id").cast("string"),
          lit("@mail.example.com"),
          when(col("doc_id") % 3 === 0, lit(" phone 555-123-4567"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" ssn 987-65-4321"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" acct 123456789"))
            .otherwise(lit(""))))
        graft.ops.TextAnalysis.piiScrub(aug)
      },
      Some("""WITH aug AS (SELECT doc_id,
             |   lower(text || ' reach u' || CAST(doc_id AS VARCHAR)
             |    || '@mail.example.com'
             |    || CASE WHEN doc_id % 3 = 0 THEN ' phone 555-123-4567' ELSE '' END
             |    || CASE WHEN doc_id % 5 = 0 THEN ' ssn 987-65-4321' ELSE '' END
             |    || CASE WHEN doc_id % 7 = 0 THEN ' acct 123456789' ELSE '' END) AS t
             |  FROM documents),
             |m AS (SELECT doc_id,
             |   CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
             |   CAST(len(regexp_extract_all(t, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT) AS n_phone,
             |   CAST(len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
             |   CAST(len(regexp_extract_all(t, '\b[0-9]{9,}\b')) AS BIGINT) AS n_digit,
             |   CAST(length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             |     '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             |     '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '[PHONE]', 'g'),
             |     '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
             |     '\b[0-9]{9,}\b', '[ID]', 'g')) AS BIGINT) AS masked_len
             |  FROM aug)
             |SELECT doc_id, n_email, n_phone, n_ssn, n_digit,
             |  n_email + n_phone + n_ssn + n_digit AS n_redacted, masked_len
             |FROM m""".stripMargin)),

    Q("q199_perceptual_neardups",
      (s, d) => graft.ops.Multimodal.perceptualNearDups(
        graft.ops.Multimodal.ingest(T(s, d, "documents"))),
      // full cross-engine dHash: byte-fold features replayed as char
      // arithmetic (ASCII corpus, q96 technique), gradient bits against a
      // 0..59 spine (dims past the payload fold to 0), 15-bit chunk
      // buckets, banded hamming join
      Some("""WITH pos AS (SELECT doc_id, text,
             |   unnest(range(1, strlen(text) + 1)) AS i FROM documents),
             |feat AS (SELECT doc_id AS media_id, CAST((i - 1) % 60 AS BIGINT) AS k,
             |   CAST(sum(ord(substr(text, CAST(i AS INT), 1))) AS BIGINT) AS f
             |  FROM pos GROUP BY 1, 2),
             |spine AS (SELECT d.doc_id AS media_id, r.range AS k
             |  FROM documents d, range(0, 60) r),
             |ff AS (SELECT s.media_id, s.k, coalesce(f.f, 0) AS f
             |  FROM spine s LEFT JOIN feat f
             |   ON f.media_id = s.media_id AND f.k = s.k),
             |bits AS (SELECT a.media_id,
             |   CASE WHEN a.f > b.f THEN 1::BIGINT << CAST(a.k AS INT) ELSE 0::BIGINT END AS bit
             |  FROM ff a JOIN ff b ON b.media_id = a.media_id
             |   AND b.k = (a.k + 1) % 60),
             |sig AS (SELECT media_id, CAST(sum(bit) AS BIGINT) AS phash
             |  FROM bits GROUP BY 1),
             |chunks AS (SELECT media_id, c.range AS chunk,
             |   (phash >> CAST(c.range * 15 AS INT)) & 32767 AS key, phash
             |  FROM sig, range(0, 4) c)
             |SELECT DISTINCT x.media_id AS a, y.media_id AS b,
             |  CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
             |FROM chunks x JOIN chunks y ON y.chunk = x.chunk
             | AND y.key = x.key AND x.media_id < y.media_id
             |WHERE bit_count(xor(x.phash, y.phash)) <= 3""".stripMargin)),

    Q("q200_canonical_parts",
      (s, d) => graft.ops.RecordLinkage.canonicalParts(T(s, d, "part")),
      // q191's candidate+score chain restricted to the match band, then the
      // recursive transitive closure (q155 pattern) and a min-id canonical
      // election with member counts
      Some("""WITH RECURSIVE cand AS (SELECT a.p_partkey AS pa, b.p_partkey AS pb,
             |   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
             |   a.p_brand AS ba, b.p_brand AS bb,
             |   a.p_size AS za, b.p_size AS zb,
             |   CAST(floor(a.p_retailprice * 100) AS BIGINT) AS pa_c,
             |   CAST(floor(b.p_retailprice * 100) AS BIGINT) AS pb_c
             |  FROM part a JOIN part b ON a.p_type = b.p_type
             |   AND a.p_partkey < b.p_partkey
             |   AND abs(strlen(a.p_name) - strlen(b.p_name)) <= 1
             |  WHERE levenshtein(a.p_name, b.p_name) <= 1),
             |mp AS (SELECT pa, pb FROM cand
             |  WHERE 500000 - dist * 150000
             |   + CASE WHEN ba = bb THEN 200000 ELSE 0 END
             |   + CASE WHEN abs(za - zb) <= 1 THEN 100000 ELSE 0 END
             |   + CASE WHEN abs(pa_c - pb_c) <= 100 THEN 50000 ELSE 0 END
             |   >= 700000),
             |und(a, b) AS (SELECT CAST(pa AS BIGINT), CAST(pb AS BIGINT) FROM mp
             |  UNION SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT) FROM mp),
             |r(s, id) AS (
             |  SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey AS BIGINT) FROM part
             |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
             |cl AS (SELECT s AS p_partkey, min(id) AS canonical_id FROM r GROUP BY s),
             |sz AS (SELECT canonical_id, count(*) AS n_members FROM cl GROUP BY 1)
             |SELECT cl.p_partkey, cl.canonical_id,
             |  CAST(sz.n_members AS BIGINT) AS n_members,
             |  cl.p_partkey = cl.canonical_id AS is_canonical
             |FROM cl JOIN sz USING (canonical_id)""".stripMargin)),

    Q("q201_threshold_choice",
      (s, d) => graft.ops.Dedup.thresholdChoice(T(s, d, "documents")),
      Some(minhashPairCtes(0.0) + ",\n" + cutChoiceCtes(100000) + """
             |SELECT CAST(st.cut AS BIGINT) AS cut,
             |  CAST(st.n_pairs_ge AS BIGINT) AS n_pairs_ge,
             |  CAST(st.n_docs_ge AS BIGINT) AS n_docs_ge,
             |  CAST(st.frac_u AS BIGINT) AS frac_u,
             |  st.cut = ch.chosen_cut AS chosen
             |FROM st, ch""".stripMargin)),

    Q("q202_calibrated_dedup",
      (s, d) => graft.ops.Dedup.calibratedDedup(T(s, d, "documents")),
      // one banded pass → budgeted cut choice → pairs at/above the cut →
      // recursive closure → longest-copy keeper election (q157 tail), with
      // the chosen cut riding every audit row
      Some(minhashPairCtes(0.0, recursive = true) + ",\n" + cutChoiceCtes(100000) + """,
             |nd AS (SELECT a, b FROM bb, ch WHERE bb.band >= ch.chosen_cut),
             |und2(a, b) AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
             |r(s, id) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION SELECT r.s, u.b FROM r JOIN und2 u ON u.a = r.id),
             |cl AS (SELECT s AS doc_id, min(id) AS cluster FROM r GROUP BY s),
             |nt AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
             |    AS BIGINT) AS n_tokens FROM documents)
             |SELECT cl.doc_id, cl.cluster, nt.n_tokens,
             |  row_number() OVER (PARTITION BY cl.cluster
             |    ORDER BY nt.n_tokens DESC, cl.doc_id) = 1 AS keep,
             |  CAST(ch.chosen_cut AS BIGINT) AS chosen_cut
             |FROM cl JOIN nt ON nt.doc_id = cl.doc_id, ch""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 2
  // The composed end-to-end training-corpus pipeline.
  private val ext20Qs = Seq(
    Q("q197_pretrain_pipeline",
      (s, d) => graft.ops.Pipeline.pretrainCorpus(T(s, d, "documents")),
      // the full funnel replayed stage by stage: cascade (q149) → line
      // dedup over survivors (q148) → one 0.5-threshold MinHash pass cut
      // at 0.8 for keeper election (q157) → 8-gram decontamination (q127)
      // → cluster-unit split over surviving pairs (q155) → train-split
      // packing (q114) with the five funnel counts attached
      Some(pretrainOracle(fuzzy = false))))

  // ---------------------------------------------------------------- round-8 batch 3
  // Corpus-mixture assembly: temperature resampling, token-budget selection,
  // and the streaming curation composition's batch twin.
  private val ext21Qs = Seq(
    Q("q203_mixture_sample",
      (s, d) => graft.ops.TrainingData.mixtureSample(T(s, d, "documents")),
      // exact per-source takes: w_s = floor(sqrt(n_s)) (α = 0.5), take_s =
      // min(n_s, targetDocs·w_s div W), md5-rank cut — all integer
      Some("""WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
             |  FROM documents GROUP BY 1),
             |w AS (SELECT source, n_source,
             |   CAST(floor(sqrt(CAST(n_source AS DOUBLE))) AS BIGINT) AS w_source
             |  FROM st),
             |tot AS (SELECT CAST(sum(w_source) AS BIGINT) AS w_total FROM w),
             |tk AS (SELECT source, n_source, w_source,
             |   CAST(least(n_source, CAST(300 AS BIGINT) * w_source // w_total)
             |     AS BIGINT) AS take
             |  FROM w, tot),
             |r AS (SELECT doc_id, source,
             |   CAST(row_number() OVER (PARTITION BY source
             |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
             |  FROM documents)
             |SELECT r.doc_id, r.source, tk.n_source, tk.w_source, tk.take, r.rk
             |FROM r JOIN tk ON tk.source = r.source WHERE r.rk <= tk.take""".stripMargin)),

    Q("q204_budget_select",
      (s, d) => graft.ops.TrainingData.budgetSelect(T(s, d, "documents")),
      // greedy by stopword-ratio bin, boundary bin filled in md5 order up
      // to the remaining token budget; the oracle's single inclusive
      // prefix-sum window equals the operator's two-phase shard scheme
      // because the shard is an order-preserving md5 prefix
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio
             | FROM documents),
             |b AS (SELECT doc_id, n_tokens,
             |   CAST(least(9, CAST(floor(stopword_ratio * 10) AS BIGINT)) AS BIGINT) AS bin
             |  FROM m),
             |bs AS (SELECT bin, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
             |  FROM b GROUP BY 1),
             |cum AS (SELECT bin, bin_tokens,
             |   CAST(coalesce(sum(bin_tokens) OVER (ORDER BY bin DESC
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |  FROM bs),
             |fullb AS (SELECT bin FROM cum WHERE cum_before + bin_tokens <= 20000),
             |bound AS (SELECT bin, CAST(20000 - cum_before AS BIGINT) AS remaining
             |  FROM cum WHERE cum_before < 20000 AND cum_before + bin_tokens > 20000),
             |keepf AS (SELECT b.doc_id, b.bin, b.n_tokens, FALSE AS boundary
             |  FROM b JOIN fullb USING (bin)),
             |bd AS (SELECT b.doc_id, b.bin, b.n_tokens, bound.remaining,
             |   CAST(sum(b.n_tokens) OVER (ORDER BY md5(CAST(b.doc_id AS VARCHAR)), b.doc_id
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_in
             |  FROM b JOIN bound ON bound.bin = b.bin)
             |SELECT doc_id, bin, n_tokens, boundary FROM keepf
             |UNION ALL
             |SELECT doc_id, bin, n_tokens, TRUE AS boundary FROM bd
             |WHERE cum_in <= remaining""".stripMargin)),

    Q("q205_curation_batch",
      // the streaming curation composition's batch twin (same function,
      // same plan shape minus the micro-batch scheduler): cascade rules →
      // PII audit → known-dup anti-join. PII is planted doc_id-derived
      // (q198 technique) so the scrub has real work; the known-dup list is
      // a deterministic residue-class stand-in for a persisted keeper
      // election (index provenance is orthogonal to the composition).
      (s, d) => {
        val docs = T(s, d, "documents")
        val aug = docs.withColumn("text", concat(col("text"),
          lit(" reach u"), col("doc_id").cast("string"),
          lit("@mail.example.com")))
        val dups = docs.filter(col("doc_id") % 13 === 5).select(col("doc_id"))
        graft.streaming.CurationStream.curationStream(aug, dups)
      },
      Some("""WITH aug AS (SELECT doc_id, lang,
             |   text || ' reach u' || CAST(doc_id AS VARCHAR) || '@mail.example.com' AS text
             |  FROM documents),
             |m AS (SELECT doc_id, lang,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len,
             |  lower(text) AS t
             | FROM aug),
             |r AS (SELECT *,
             |   CASE WHEN len(tl) = 0 THEN NULL
             |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
             |   END AS rep_ratio
             |  FROM m),
             |keep AS (SELECT * FROM r
             |  WHERE NOT (n_tokens < 20) AND NOT (stopword_ratio < 0.02)
             |   AND NOT coalesce(rep_ratio > 0.65, FALSE)
             |   AND NOT (mean_word_len > 5.9) AND doc_id % 13 <> 5),
             |pii AS (SELECT doc_id, lang, n_tokens, rep_ratio,
             |   CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT)
             |   + CAST(len(regexp_extract_all(t, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT)
             |   + CAST(len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT)
             |   + CAST(len(regexp_extract_all(t, '\b[0-9]{9,}\b')) AS BIGINT) AS n_redacted,
             |   CAST(length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             |     '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             |     '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '[PHONE]', 'g'),
             |     '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
             |     '\b[0-9]{9,}\b', '[ID]', 'g')) AS BIGINT) AS masked_len
             |  FROM keep)
             |SELECT doc_id, lang, n_tokens, rep_ratio, n_redacted, masked_len
             |FROM pii""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 3
  // Corpus-health audits and mining: char-mass repetition profile, semantic
  // diversity cap, contrastive hard negatives, dup-cluster histogram,
  // post-split leakage audit.
  private val ext22Qs = Seq(
    Q("q206_repetition_profile",
      (s, d) => graft.ops.TextAnalysis.repetitionProfile(T(s, d, "documents")),
      // per-n gram mass rollup; dup/top fractions as BIGINT floor micro-units
      Some("""WITH toks AS (SELECT doc_id,
             |  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok,
             |  generate_subscripts(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''), 1) AS pos
             | FROM documents),
             |g2 AS (SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS gram
             | FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |g3 AS (SELECT doc_id,
             |  tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
             | FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |c2 AS (SELECT doc_id, gram, count(*) AS cnt,
             |  CAST(length(gram) * count(*) AS BIGINT) AS mass
             | FROM g2 WHERE gram IS NOT NULL GROUP BY 1, 2),
             |c3 AS (SELECT doc_id, gram, count(*) AS cnt,
             |  CAST(length(gram) * count(*) AS BIGINT) AS mass
             | FROM g3 WHERE gram IS NOT NULL GROUP BY 1, 2),
             |r2 AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rk FROM c2),
             |r3 AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rk FROM c3),
             |a2 AS (SELECT doc_id, CAST(2 AS BIGINT) AS n,
             |  CAST(sum(mass) AS BIGINT) AS total_mass,
             |  CAST(coalesce(sum(mass) FILTER (cnt >= 2), 0) AS BIGINT) AS dup_mass,
             |  CAST(max(mass) FILTER (rk = 1) AS BIGINT) AS top_mass
             | FROM r2 GROUP BY 1),
             |a3 AS (SELECT doc_id, CAST(3 AS BIGINT) AS n,
             |  CAST(sum(mass) AS BIGINT) AS total_mass,
             |  CAST(coalesce(sum(mass) FILTER (cnt >= 2), 0) AS BIGINT) AS dup_mass,
             |  CAST(max(mass) FILTER (rk = 1) AS BIGINT) AS top_mass
             | FROM r3 GROUP BY 1),
             |u AS (SELECT * FROM a2 UNION ALL SELECT * FROM a3)
             |SELECT doc_id, n, total_mass,
             |  CAST(dup_mass * 1000000 // total_mass AS BIGINT) AS dup_frac_u,
             |  CAST(top_mass * 1000000 // total_mass AS BIGINT) AS top_frac_u,
             |  (top_mass * 1000000 // total_mass) > 200000
             |    OR (dup_mass * 1000000 // total_mass) > 600000 AS flagged
             |FROM u""".stripMargin)),

    Q("q207_semantic_cap",
      (s, d) => graft.ops.Similarity.semanticCap(T(s, d, "embeddings")),
      // the q150 hyperplane-cell chain + an md5-order rank inside each cell
      Some(hplaneCellStages(recursive = false) + """,
             |sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS cell_size FROM cells GROUP BY 1),
             |rk AS (SELECT vec_id, cell,
             |   CAST(row_number() OVER (PARTITION BY cell
             |     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
             |  FROM cells)
             |SELECT r.vec_id, r.cell, s.cell_size, r.rk, r.rk <= 8 AS keep
             |FROM rk r JOIN sz s USING (cell)""".stripMargin)),

    Q("q208_hard_negatives",
      (s, d) => graft.ops.Similarity.hardNegatives(T(s, d, "embeddings")),
      // q176's in-cell cosine chain with a [0.3, 0.95) band before the rank
      Some(hplaneCellStages(recursive = false) + """,
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |pr AS (SELECT x.vec_id AS qa, y.vec_id AS vb
             |  FROM cells x JOIN cells y
             |    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
             |dots AS (SELECT pr.qa AS query_id, pr.vb AS vec_id,
             |   sum(CAST(q.v AS DOUBLE) * c.v) AS dp
             |  FROM pr JOIN f q ON q.vec_id = pr.qa
             |  JOIN f c ON c.vec_id = pr.vb AND c.i = q.i GROUP BY 1, 2),
             |cos AS (SELECT d.query_id, d.vec_id,
             |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |band AS (SELECT * FROM cos WHERE cos >= 0.3 AND cos < 0.95),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |   ORDER BY cos DESC, vec_id) AS rk FROM band)
             |SELECT query_id AS anchor, vec_id AS negative, cos,
             |  CAST(rk AS BIGINT) AS rk
             |FROM rk WHERE rk <= 3""".stripMargin)),

    Q("q209_dup_cluster_profile",
      (s, d) => {
        val docs = T(s, d, "documents")
        val pairs = graft.ops.Dedup.minhashLsh(docs, 8, 2, 0.8)
          .select(col("a"), col("b"))
        graft.ops.Dedup.dupClusterProfile(docs, pairs)
      },
      // q157's verified-pair + transitive-closure chain, rolled to a
      // cluster-size histogram (singletons included)
      Some("""WITH RECURSIVE words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
             |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
             |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
             |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
             |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
             |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
             |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
             |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
             |   AND x.doc_id < y.doc_id),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
             |inter AS (SELECT c.a, c.b, count(*) AS i
             |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
             |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
             |  GROUP BY 1, 2),
             |nd AS (SELECT c.a, c.b FROM cand c
             |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             |  JOIN sizes sa ON sa.doc_id = c.a
             |  JOIN sizes sb ON sb.doc_id = c.b
             |  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
             |      / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.8),
             |und(a, b) AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
             |r(s, id) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
             |cl AS (SELECT s AS doc_id, min(id) AS cluster FROM r GROUP BY s),
             |szs AS (SELECT cluster, count(*) AS cluster_size FROM cl GROUP BY 1)
             |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
             |  CAST(count(*) AS BIGINT) AS n_clusters,
             |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
             |FROM szs GROUP BY cluster_size""".stripMargin)),

    Q("q210_split_leakage_audit",
      (s, d) => {
        val docs = T(s, d, "documents")
        val pairs = graft.ops.Dedup.minhashLsh(docs, 8, 2, 0.8)
          .select(col("a"), col("b"))
        graft.ops.TrainingData.splitLeakageAudit(docs, pairs)
      },
      // q155's split chain + rare-8-gram cross-split collisions + the
      // straddle count the cluster-unit split makes zero by construction
      Some(s"""WITH RECURSIVE words AS (
              |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
              |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
              |    x -> x <> '') AS tl FROM documents)),
              |toks AS (
              |  SELECT DISTINCT doc_id,
              |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
              |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
              |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
              |sig AS (SELECT doc_id,
              |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
              |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
              |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
              |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
              |  FROM toks GROUP BY doc_id),
              |bands AS (
              |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
              |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
              |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
              |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
              |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
              |   AND x.doc_id < y.doc_id),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
              |inter AS (SELECT c.a, c.b, count(*) AS i
              |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
              |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
              |  GROUP BY 1, 2),
              |nd AS (SELECT c.a, c.b FROM cand c
              |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
              |  JOIN sizes sa ON sa.doc_id = c.a
              |  JOIN sizes sb ON sb.doc_id = c.b
              |  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
              |      / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.8),
              |und(a, b) AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
              |r(s, id) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
              |cl AS (SELECT s AS doc_id, min(id) AS cluster FROM r GROUP BY s),
              |sp AS (SELECT doc_id,
              |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
              |       ELSE 'test' END AS split
              | FROM (SELECT doc_id, ${duckH60("CAST(cluster AS VARCHAR)")} % 100 AS h FROM cl)),
              |g8 AS (SELECT DISTINCT doc_id,
              |  w || ' ' || lead(w, 1) OVER win8 || ' ' || lead(w, 2) OVER win8
              |    || ' ' || lead(w, 3) OVER win8 || ' ' || lead(w, 4) OVER win8
              |    || ' ' || lead(w, 5) OVER win8 || ' ' || lead(w, 6) OVER win8
              |    || ' ' || lead(w, 7) OVER win8 AS gram
              |  FROM words WINDOW win8 AS (PARTITION BY doc_id ORDER BY pos)
              |  QUALIFY lead(w, 7) OVER win8 IS NOT NULL),
              |rare AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM g8 GROUP BY 1)
              |  WHERE df <= 25),
              |gx AS (SELECT g.doc_id, g.gram, sp.split
              |  FROM g8 g JOIN rare USING (gram) JOIN sp ON sp.doc_id = g.doc_id),
              |x AS (SELECT a.split AS split_a, b.split AS split_b,
              |   a.doc_id AS da, b.doc_id AS db, a.gram AS gram
              |  FROM gx a JOIN gx b ON a.gram = b.gram AND a.split < b.split),
              |dp AS (SELECT split_a, split_b, count(*) AS n_doc_pairs
              |  FROM (SELECT DISTINCT split_a, split_b, da, db FROM x) GROUP BY 1, 2),
              |sg AS (SELECT split_a, split_b, count(*) AS n_shared_grams
              |  FROM (SELECT DISTINCT split_a, split_b, gram FROM x) GROUP BY 1, 2),
              |st AS (SELECT least(sa.split, sb.split) AS split_a,
              |   greatest(sa.split, sb.split) AS split_b, count(*) AS n_straddle
              |  FROM nd JOIN sp sa ON sa.doc_id = nd.a
              |  JOIN sp sb ON sb.doc_id = nd.b
              |  WHERE sa.split <> sb.split GROUP BY 1, 2),
              |spine AS (SELECT 'test' AS split_a, 'train' AS split_b
              |  UNION ALL SELECT 'test', 'val' UNION ALL SELECT 'train', 'val')
              |SELECT spine.split_a, spine.split_b,
              |  CAST(coalesce(dp.n_doc_pairs, 0) AS BIGINT) AS n_doc_pairs,
              |  CAST(coalesce(sg.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
              |  CAST(coalesce(st.n_straddle, 0) AS BIGINT) AS n_straddle
              |FROM spine
              |LEFT JOIN dp ON dp.split_a = spine.split_a AND dp.split_b = spine.split_b
              |LEFT JOIN sg ON sg.split_a = spine.split_a AND sg.split_b = spine.split_b
              |LEFT JOIN st ON st.split_a = spine.split_a AND st.split_b = spine.split_b""".stripMargin)))

  /** One unrolled BPE merge round in DuckDB — the SQL twin of
    * [[graft.ops.TextAnalysis]]'s bpeRounds loop body: pair weights off the
    * vocabulary, best-pair election (max weight, ties to the smallest
    * pair), gaps-and-islands odd-ordinal merging, per-word re-aggregation. */
  private def bpeRoundSql(r: Int): String = {
    val p = r - 1
    s"""q$r AS (SELECT w, freq, s, pos,
       |   lead(s) OVER (PARTITION BY w ORDER BY pos) AS s2
       |  FROM (SELECT w, freq, unnest(syms) AS s,
       |     generate_subscripts(syms, 1) AS pos FROM v$p)),
       |pw$r AS (SELECT s || ' ' || s2 AS pair, CAST(sum(freq) AS BIGINT) AS weight
       |  FROM q$r WHERE s2 IS NOT NULL GROUP BY 1),
       |b$r AS (SELECT min(pair) AS bp, max(weight) AS bw,
       |   split_part(min(pair), ' ', 1) AS p0, split_part(min(pair), ' ', 2) AS p1
       |  FROM pw$r WHERE weight = (SELECT max(weight) FROM pw$r)),
       |g$r AS (SELECT *, sum(CASE WHEN mtch THEN 0 ELSE 1 END)
       |    OVER (PARTITION BY w ORDER BY pos) AS grp
       |  FROM (SELECT q.*, (q.s2 IS NOT NULL AND q.s = b.p0 AND q.s2 = b.p1) AS mtch
       |        FROM q$r q, b$r b)),
       |x$r AS (SELECT *, (mtch AND mo % 2 = 1) AS merged,
       |   coalesce(lag(mtch AND mo % 2 = 1) OVER (PARTITION BY w ORDER BY pos),
       |     FALSE) AS consumed
       |  FROM (SELECT *, sum(CASE WHEN mtch THEN 1 ELSE 0 END)
       |     OVER (PARTITION BY w, grp ORDER BY pos) AS mo FROM g$r)),
       |v$r AS MATERIALIZED (SELECT w, freq,
       |   list(CASE WHEN merged THEN s || s2 ELSE s END ORDER BY pos) AS syms
       |  FROM x$r WHERE NOT consumed GROUP BY 1, 2),
       |n$r AS (SELECT CAST(sum(freq * len(syms)) AS BIGINT) AS n_symbols FROM v$r)""".stripMargin
  }

  private val bpeVocabSql: String =
    s"""WITH words AS (SELECT w, count(*) AS freq FROM (
       |   SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |     x -> x <> '')) AS w FROM documents) GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT w, freq,
       |   list_transform(range(length(w)),
       |     i -> substring(w, CAST(i + 1 AS INT), 1)) AS syms
       |  FROM words),
       |${bpeRoundSql(1)},
       |${bpeRoundSql(2)},
       |${bpeRoundSql(3)}""".stripMargin

  // ---------------------------------------------------------------- round-8 batch 4
  // Tokenizer training/evaluation on the vocabulary relation + the RAG
  // sliding-window chunker.
  private val ext23Qs = Seq(
    Q("q211_bpe_merges",
      (s, d) => graft.ops.TextAnalysis.bpeMerges(T(s, d, "documents")),
      Some(bpeVocabSql + """
             |SELECT CAST(1 AS BIGINT) AS round, b1.bp AS pair, b1.bw AS weight,
             |  n1.n_symbols FROM b1, n1
             |UNION ALL SELECT 2, b2.bp, b2.bw, n2.n_symbols FROM b2, n2
             |UNION ALL SELECT 3, b3.bp, b3.bw, n3.n_symbols FROM b3, n3""".stripMargin)),

    Q("q212_sliding_chunks",
      (s, d) => graft.ops.Chunking.slidingChunks(T(s, d, "documents")),
      Some("""WITH t AS (SELECT doc_id,
             |   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl
             |  FROM documents),
             |t2 AS (SELECT doc_id, tl, len(tl) AS n FROM t WHERE len(tl) > 0),
             |c AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
             |   list_slice(tl, CAST(ci * 24 + 1 AS BIGINT),
             |     CAST(ci * 24 + 32 AS BIGINT)) AS chunk
             |  FROM (SELECT doc_id, tl, unnest(range((n - 1) // 24 + 1)) AS ci FROM t2))
             |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
             |  md5(array_to_string(chunk, ' ')) AS chunk_hash
             |FROM c""".stripMargin)),

    Q("q213_tokenizer_fertility",
      (s, d) => graft.ops.TextAnalysis.tokenizerFertility(T(s, d, "documents")),
      Some(bpeVocabSql + """,
             |sw AS (SELECT source, w, count(*) AS occ FROM (
             |   SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |     x -> x <> '')) AS w FROM documents) GROUP BY 1, 2),
             |j AS (SELECT sw.source, sw.occ, len(v3.syms) AS ns, length(sw.w) AS lw
             |  FROM sw JOIN v3 ON v3.w = sw.w),
             |a AS (SELECT source, CAST(sum(occ) AS BIGINT) AS n_tokens,
             |   CAST(sum(occ * ns) AS BIGINT) AS n_symbols,
             |   CAST(sum(occ * lw) AS BIGINT) AS n_chars FROM j GROUP BY 1)
             |SELECT source, n_tokens, n_symbols,
             |  CAST(n_symbols * 1000000 // n_tokens AS BIGINT) AS fertility_u,
             |  CAST(n_chars * 1000000 // n_symbols AS BIGINT) AS compression_u
             |FROM a""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 5
  // Epoch weighting, n-gram novelty, embedding drift monitoring.
  private val ext24Qs = Seq(
    Q("q214_epoch_mix",
      (s, d) => graft.ops.TrainingData.epochMix(T(s, d, "documents")),
      // q204's stopword-ratio bin replay + a per-tier range explode
      Some("""WITH m AS (SELECT doc_id,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio
             | FROM documents),
             |b AS (SELECT doc_id,
             |   CAST(least(9, CAST(floor(stopword_ratio * 10) AS BIGINT)) AS BIGINT) AS bin
             |  FROM m),
             |e AS (SELECT doc_id, bin,
             |   CAST(CASE WHEN bin >= 2 THEN 3 WHEN bin >= 1 THEN 2 ELSE 1 END AS BIGINT) AS epochs
             |  FROM b)
             |SELECT doc_id, bin, epochs, CAST(copy AS BIGINT) AS copy,
             |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR)) AS order_key
             |FROM (SELECT doc_id, bin, epochs, unnest(range(1, epochs + 1)) AS copy FROM e)""".stripMargin)),

    Q("q215_gram_novelty",
      (s, d) => graft.ops.TextAnalysis.gramNovelty(T(s, d, "documents")),
      Some("""WITH toks AS (SELECT doc_id,
             |  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok,
             |  generate_subscripts(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''), 1) AS pos
             | FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |  tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
             | FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
             | QUALIFY lead(tok, 2) OVER w IS NOT NULL),
             |dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
             |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |  CAST(coalesce(sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unique,
             |  CAST(coalesce(sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END), 0)
             |    * 1000000 // count(*) AS BIGINT) AS novelty_u
             |FROM g JOIN dfq USING (gram) GROUP BY 1""".stripMargin)),

    Q("q216_cell_drift",
      // deterministic synthetic snapshots: even vec_id = reference, odd =
      // current — the q158 snapshot-diff convention for a single-table drill
      (s, d) => graft.ops.Similarity.cellDrift(
        T(s, d, "embeddings"), col("vec_id") % 2 === 0),
      Some(hplaneCellStages(recursive = false) + """,
             |sided AS (SELECT c.cell, (c.vec_id % 2 = 0) AS ref FROM cells c),
             |per AS (SELECT cell,
             |   CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             |   CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
             |  FROM sided GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
             |   CAST(sum(n_cur) AS BIGINT) AS tc FROM per)
             |SELECT cell, n_ref, n_cur,
             |  CAST(abs(n_ref * tc - n_cur * tr) AS BIGINT) AS imbalance
             |FROM per, tot""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 6
  // Crawl-saturation and cascade-tuning audits.
  private val ext25Qs = Seq(
    Q("q217_novelty_decay",
      (s, d) => {
        val docs = T(s, d, "documents")
        val pairs = graft.ops.Dedup.minhashLsh(docs, 8, 2, 0.8)
          .select(col("a"), col("b"))
        graft.ops.Dedup.noveltyDecay(docs, pairs)
      },
      // q35's verified-pair chain; redundancy = the later (greater-id) side
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
             |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
             |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
             |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
             |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
             |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
             |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
             |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
             |   AND x.doc_id < y.doc_id),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
             |inter AS (SELECT c.a, c.b, count(*) AS i
             |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
             |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
             |  GROUP BY 1, 2),
             |nd AS (SELECT c.a, c.b FROM cand c
             |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             |  JOIN sizes sa ON sa.doc_id = c.a
             |  JOIN sizes sb ON sb.doc_id = c.b
             |  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
             |      / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.8),
             |red AS (SELECT DISTINCT greatest(a, b) AS doc_id FROM nd),
             |bt AS (SELECT d.doc_id, d.doc_id // 100 AS batch,
             |   (red.doc_id IS NOT NULL) AS red
             |  FROM documents d LEFT JOIN red ON red.doc_id = d.doc_id)
             |SELECT batch, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN red THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
             |  CAST(sum(CASE WHEN red THEN 1 ELSE 0 END) * 1000000 // count(*)
             |    AS BIGINT) AS redundancy_u
             |FROM bt GROUP BY 1""".stripMargin)),

    Q("q218_rule_matrix",
      (s, d) => graft.ops.TextAnalysis.ruleMatrix(T(s, d, "documents")),
      // q205's quality/repetition formula replays + a double unnest of the
      // sorted reason list
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             | FROM documents),
             |r AS (SELECT *,
             |   CASE WHEN len(tl) = 0 THEN NULL
             |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
             |   END AS rep_ratio
             |  FROM m),
             |f AS (SELECT doc_id, list_sort(list_filter([
             |   CASE WHEN n_tokens < 20 THEN 'too_short' END,
             |   CASE WHEN stopword_ratio < 0.02 THEN 'low_stopword' END,
             |   CASE WHEN rep_ratio > 0.65 THEN 'high_repetition' END,
             |   CASE WHEN mean_word_len > 5.9 THEN 'long_words' END],
             |   x -> x IS NOT NULL)) AS rs
             |  FROM r),
             |rej AS (SELECT doc_id, rs FROM f WHERE len(rs) > 0),
             |x AS (SELECT rs, unnest(rs) AS ra FROM rej),
             |y AS (SELECT ra, unnest(rs) AS rb FROM x)
             |SELECT ra AS rule_a, rb AS rule_b, CAST(count(*) AS BIGINT) AS n_docs
             |FROM y WHERE ra <= rb GROUP BY 1, 2""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 7
  // Contrastive triplet emit and the one-row dataset card.
  private val ext26Qs = Seq(
    Q("q219_contrastive_triplets",
      (s, d) => graft.ops.Similarity.contrastiveTriplets(T(s, d, "embeddings")),
      // q208's in-cell cosine chain; positives at >= 0.4, top-2 negatives
      // in [0.1, 0.4) — cuts calibrated to the synthetic corpus' in-cell
      // cosine range (max ~0.47), joined per anchor
      Some(hplaneCellStages(recursive = false) + """,
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |pr AS (SELECT x.vec_id AS qa, y.vec_id AS vb
             |  FROM cells x JOIN cells y
             |    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
             |dots AS (SELECT pr.qa AS query_id, pr.vb AS vec_id,
             |   sum(CAST(q.v AS DOUBLE) * c.v) AS dp
             |  FROM pr JOIN f q ON q.vec_id = pr.qa
             |  JOIN f c ON c.vec_id = pr.vb AND c.i = q.i GROUP BY 1, 2),
             |cos AS (SELECT d.query_id, d.vec_id,
             |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |posr AS (SELECT query_id AS anchor, vec_id AS positive, cos AS pos_cos
             |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |     ORDER BY cos DESC, vec_id) AS rk FROM cos WHERE cos >= 0.4)
             |  WHERE rk = 1),
             |negr AS (SELECT query_id AS anchor, vec_id AS negative,
             |   cos AS neg_cos, CAST(rk AS BIGINT) AS rk
             |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |     ORDER BY cos DESC, vec_id) AS rk
             |    FROM cos WHERE cos >= 0.1 AND cos < 0.4)
             |  WHERE rk <= 2)
             |SELECT p.anchor, p.positive, p.pos_cos, n.negative, n.neg_cos, n.rk
             |FROM posr p JOIN negr n USING (anchor)""".stripMargin)),

    Q("q220_dataset_card",
      (s, d) => {
        val docs = T(s, d, "documents")
        val pairs = graft.ops.Dedup.minhashLsh(docs, 8, 2, 0.8)
          .select(col("a"), col("b"))
        graft.ops.TrainingData.datasetCard(docs, pairs)
      },
      // q35's verified-pair chain + q218's reject flags + corpus scalars
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
             |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
             |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
             |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
             |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
             |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
             |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
             |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
             |   AND x.doc_id < y.doc_id),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
             |inter AS (SELECT c.a, c.b, count(*) AS i
             |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
             |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
             |  GROUP BY 1, 2),
             |nd AS (SELECT c.a, c.b FROM cand c
             |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             |  JOIN sizes sa ON sa.doc_id = c.a
             |  JOIN sizes sb ON sb.doc_id = c.b
             |  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
             |      / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.8),
             |m AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             | FROM documents),
             |rq AS (SELECT *,
             |   CASE WHEN len(tl) = 0 THEN NULL
             |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
             |   END AS rep_ratio
             |  FROM m),
             |fl AS (SELECT doc_id,
             |   (n_tokens < 20 OR stopword_ratio < 0.02
             |    OR coalesce(rep_ratio > 0.65, FALSE) OR mean_word_len > 5.9) AS rejected
             |  FROM rq),
             |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens,
             |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
             |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM documents),
             |dupp AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs FROM nd),
             |dupd AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_dup_docs
             |  FROM (SELECT a AS d FROM nd UNION ALL SELECT b FROM nd)),
             |rej AS (SELECT CAST(sum(CASE WHEN rejected THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected FROM fl)
             |SELECT base.*, dupp.n_dup_pairs, dupd.n_dup_docs, rej.n_rejected,
             |  CAST(n_dup_docs * 1000000 // n_docs AS BIGINT) AS dup_u,
             |  CAST(n_rejected * 1000000 // n_docs AS BIGINT) AS reject_u
             |FROM base, dupp, dupd, rej""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 8
  // Release-risk, index-health and cleaning-transform operators.
  private val ext27Qs = Seq(
    Q("q221_k_anonymity",
      (s, d) => graft.ops.Privacy.kAnonymityAudit(T(s, d, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_kb"))),
      // quasi tuple = (nation, segment, acctbal kilobucket); the spine
      // cross-joins a 4-row literal against the class relation
      Some("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
             |   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
             |   count(*) AS sz
             |  FROM customer GROUP BY 1, 2, 3),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
             |   CAST(sum(sz) AS BIGINT) AS n_rows FROM cls),
             |spine AS (SELECT unnest([2, 5, 10, 25]) AS k),
             |per AS (SELECT s.k,
             |   CAST(sum(CASE WHEN c.sz < s.k THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below,
             |   CAST(sum(CASE WHEN c.sz < s.k THEN c.sz ELSE 0 END) AS BIGINT) AS n_rows_below
             |  FROM spine s, cls c GROUP BY 1)
             |SELECT CAST(p.k AS BIGINT) AS k, t.n_classes, t.n_rows,
             |  p.n_classes_below, p.n_rows_below,
             |  CAST(p.n_rows_below * 1000000 // t.n_rows AS BIGINT) AS risk_u
             |FROM per p, tot t""".stripMargin)),

    Q("q222_index_balance",
      (s, d) => graft.ops.Similarity.indexBalance(T(s, d, "embeddings")),
      // q150's cell chain -> occupancy histogram by floor-log2 (bin-string
      // length -- engine-exact at power-of-two boundaries)
      Some(hplaneCellStages(recursive = false) + """,
             |sizes AS (SELECT cell, count(*) AS sz FROM cells GROUP BY 1),
             |tot AS (SELECT CAST(max(sz) AS BIGINT) AS max_sz,
             |   CAST(count(*) AS BIGINT) AS tot_cells,
             |   CAST(sum(sz) AS BIGINT) AS n FROM sizes)
             |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_cells,
             |  CAST(sum(sz) AS BIGINT) AS n_vecs,
             |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS pair_mass,
             |  t.max_sz,
             |  CAST(t.max_sz * t.tot_cells * 1000000 // t.n AS BIGINT) AS skew_u
             |FROM sizes, tot t
             |GROUP BY 1, t.max_sz, t.tot_cells, t.n""".stripMargin)),

    Q("q223_char_classes",
      (s, d) => graft.ops.TextAnalysis.charClassProfile(T(s, d, "documents")),
      // regexp-strip length trick per class; 'g' flag = replace-all (Spark
      // regexp_replace default)
      Some("""WITH m AS (SELECT source, length(text) AS nc,
             |   length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS let,
             |   length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS dig,
             |   length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS spc
             |  FROM documents)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(nc) AS BIGINT) AS n_chars,
             |  CAST(sum(let) * 1000000 // greatest(sum(nc), 1) AS BIGINT) AS letter_u,
             |  CAST(sum(dig) * 1000000 // greatest(sum(nc), 1) AS BIGINT) AS digit_u,
             |  CAST(sum(spc) * 1000000 // greatest(sum(nc), 1) AS BIGINT) AS space_u,
             |  CAST((sum(nc) - sum(let) - sum(dig) - sum(spc)) * 1000000
             |    // greatest(sum(nc), 1) AS BIGINT) AS other_u
             |FROM m GROUP BY 1""".stripMargin)),

    Q("q224_line_scrub",
      (s, d) => graft.ops.TextAnalysis.lineScrub(
        T(s, d, "documents"), sep = " line "),
      // q148's segment convention; first occurrence per (doc, seg) survives,
      // string_agg skips the NULLed repeats and re-joins in document order
      Some("""WITH segs AS (SELECT doc_id,
             |   unnest(string_split(text, ' line ')) AS seg,
             |   generate_subscripts(string_split(text, ' line '), 1) AS pos
             |  FROM documents),
             |occ AS (SELECT *,
             |   row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) AS o
             |  FROM segs)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
             |  CAST(sum(CASE WHEN o = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(sum(CASE WHEN o > 1 THEN length(seg) ELSE 0 END) AS BIGINT) AS removed_chars,
             |  coalesce(string_agg(CASE WHEN o = 1 THEN seg END, ' line '
             |    ORDER BY pos), '') AS text_scrubbed
             |FROM occ GROUP BY doc_id""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 9
  // Generalization-gap, dedup-explainability and packing/labeling choosers.
  private val ext28Qs = Seq(
    Q("q225_domain_shift",
      (s, d) => graft.ops.TextAnalysis.domainShift(T(s, d, "documents")),
      // q111's split replay + q166's LM with add-one smoothing over N+V+1
      Some(s"""WITH sided AS (SELECT source, text,
              |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' END AS split
              | FROM (SELECT source, text,
              |   ${duckH60("CAST(doc_id AS VARCHAR)")} % 100 AS h FROM documents)),
              |toks AS (SELECT source, split,
              |  unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
              | FROM sided WHERE split IS NOT NULL),
              |lm AS (SELECT tok, count(*) AS cnt FROM toks WHERE split = 'train' GROUP BY 1),
              |nv AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM lm),
              |scored AS (SELECT t.source, t.split,
              |  CAST(floor((ln((nv.n + nv.v + 1)::DOUBLE)
              |    - ln((coalesce(lm.cnt, 0) + 1)::DOUBLE)) * 1000000) AS BIGINT) AS term_u
              | FROM toks t LEFT JOIN lm ON lm.tok = t.tok, nv),
              |agg AS (SELECT source, split, CAST(count(*) AS BIGINT) AS n_toks,
              |  CAST(sum(term_u) AS BIGINT) AS sum_u FROM scored GROUP BY 1, 2),
              |tr AS (SELECT source, n_toks AS n_train_tokens,
              |  sum_u // n_toks AS train_nll_u FROM agg WHERE split = 'train'),
              |va AS (SELECT source, n_toks AS n_val_tokens,
              |  sum_u // n_toks AS val_nll_u FROM agg WHERE split = 'val')
              |SELECT tr.source, tr.n_train_tokens, va.n_val_tokens,
              |  tr.train_nll_u, va.val_nll_u,
              |  va.val_nll_u - tr.train_nll_u AS shift_u
              |FROM tr JOIN va USING (source)""".stripMargin)),

    Q("q226_pair_evidence",
      (s, d) => graft.ops.Dedup.pairEvidence(T(s, d, "documents")),
      // q220's sig/band/verify chain + per-pair band counts and the
      // 8-component signature-agreement estimator
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
             |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
             |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
             |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
             |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
             |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
             |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
             |cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
             |   CAST(count(*) AS BIGINT) AS n_bands
             |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
             |   AND x.doc_id < y.doc_id GROUP BY 1, 2),
             |est AS (SELECT c.a, c.b, c.n_bands,
             |   CAST((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END)
             |    + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
             |    + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END)
             |    + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
             |    + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END)
             |    + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
             |    + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END)
             |    + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) AS BIGINT) AS n_sig
             |  FROM cand c JOIN sig sa ON sa.doc_id = c.a
             |  JOIN sig sb ON sb.doc_id = c.b),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
             |inter AS (SELECT c.a, c.b, count(*) AS i
             |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
             |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
             |  GROUP BY 1, 2),
             |ver AS (SELECT c.a, c.b,
             |   CAST(floor(coalesce(i.i, 0)::DOUBLE
             |     / (sa.sz + sb.sz - coalesce(i.i, 0))::DOUBLE * 1000000) AS BIGINT) AS jac_u
             |  FROM cand c
             |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             |  JOIN sizes sa ON sa.doc_id = c.a
             |  JOIN sizes sb ON sb.doc_id = c.b)
             |SELECT e.a, e.b, e.n_bands, e.n_sig,
             |  e.n_sig * 1000000 // 8 AS est_u, v.jac_u,
             |  (e.n_sig * 1000000 // 8 >= 800000 AND v.jac_u < 800000) AS is_fp
             |FROM est e JOIN ver v ON v.a = e.a AND v.b = e.b""".stripMargin)),

    Q("q227_packing_efficiency",
      // shardDocs=128 so the shard dimension is exercised at verify scale
      // (the q114 convention)
      (s, d) => graft.ops.TrainingData.packingEfficiency(
        T(s, d, "documents"), partCol = "lang", shardDocs = 128),
      Some("""WITH t AS (SELECT lang,
             |  CAST(floor(doc_id / 128) AS BIGINT) AS shard, doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
             |    AS BIGINT) AS n_tokens
             | FROM documents),
             |c AS (SELECT lang, shard, doc_id, n_tokens,
             |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre FROM t),
             |x AS (SELECT c.*, CAST(b.budget AS BIGINT) AS budget
             |  FROM c, (SELECT unnest([1024, 2048, 4096, 8192]) AS budget) b)
             |SELECT budget,
             |  CAST(count(DISTINCT (lang, shard, pre // budget)) AS BIGINT) AS n_bins,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             |  CAST(sum(n_tokens) * 1000000
             |    // (count(DISTINCT (lang, shard, pre // budget)) * budget) AS BIGINT) AS util_u,
             |  CAST(sum(CASE WHEN n_tokens > budget THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize
             |FROM x GROUP BY 1""".stripMargin)),

    Q("q228_weak_label_set",
      (s, d) => graft.ops.TrainingData.weakLabelSet(T(s, d, "documents")),
      // q218's cascade replay -> weak label; global (m, doc_id) rank per
      // label == the two-phase shard rank (shard is a prefix of m)
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             | FROM documents),
             |r AS (SELECT *,
             |   CASE WHEN len(tl) = 0 THEN NULL
             |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
             |   END AS rep_ratio
             |  FROM m),
             |lab AS (SELECT doc_id,
             |   CASE WHEN n_tokens < 20 OR stopword_ratio < 0.02
             |     OR coalesce(rep_ratio > 0.65, FALSE) OR mean_word_len > 5.9
             |    THEN 0 ELSE 1 END AS label
             |  FROM r),
             |ranked AS (SELECT doc_id, CAST(label AS BIGINT) AS label,
             |   CAST(row_number() OVER (PARTITION BY label
             |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
             |  FROM lab),
             |mc AS (SELECT CAST(min(c) AS BIGINT) AS m_take
             |  FROM (SELECT count(*) AS c FROM lab GROUP BY label))
             |SELECT doc_id, label, rk FROM ranked, mc WHERE rk <= m_take""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 10
  // Disclosure, pruning-plan, calibration and manifest operators.
  private val ext29Qs = Seq(
    Q("q229_l_diversity",
      (s, d) => graft.ops.Privacy.lDiversityAudit(T(s, d, "customer"),
        Seq(col("c_nationkey"), floor(col("c_acctbal") / 1000).as("bal_kb")),
        col("c_mktsegment")),
      // q221's class relation + a distinct-sensitive count per class
      Some("""WITH cls AS (SELECT c_nationkey,
             |   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
             |   count(*) AS sz, count(DISTINCT c_mktsegment) AS dv
             |  FROM customer GROUP BY 1, 2),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
             |   CAST(sum(sz) AS BIGINT) AS n_rows FROM cls),
             |spine AS (SELECT unnest([2, 3, 5]) AS l),
             |per AS (SELECT s.l,
             |   CAST(sum(CASE WHEN c.dv < s.l THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below,
             |   CAST(sum(CASE WHEN c.dv < s.l THEN c.sz ELSE 0 END) AS BIGINT) AS n_rows_below
             |  FROM spine s, cls c GROUP BY 1)
             |SELECT CAST(p.l AS BIGINT) AS l, t.n_classes, t.n_rows,
             |  p.n_classes_below, p.n_rows_below,
             |  CAST(p.n_rows_below * 1000000 // t.n_rows AS BIGINT) AS risk_u
             |FROM per p, tot t""".stripMargin)),

    Q("q230_perplexity_prune",
      (s, d) => graft.ops.TextAnalysis.perplexityPrune(T(s, d, "documents")),
      // q166's per-doc NLL chain -> (source, 0.1-nat bin) masses -> the
      // bin-granular head/middle/tail cut by cumulative start position
      Some("""WITH tl AS (SELECT doc_id,
             |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |lm AS (SELECT tok, count(*) AS cnt FROM tl GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tl),
             |terms AS (SELECT t.doc_id,
             |   CAST(floor((ln(CAST(n.n AS DOUBLE)) - ln(CAST(lm.cnt AS DOUBLE)))
             |     * 1000000) AS BIGINT) AS term_u
             |  FROM tl t JOIN lm USING (tok), n),
             |nll AS (SELECT doc_id, CAST(sum(term_u) // count(*) AS BIGINT) AS avg_nll_u
             |  FROM terms GROUP BY 1),
             |b AS (SELECT d.source, avg_nll_u // 100000 AS bin, count(*) AS n_docs
             |  FROM nll JOIN documents d USING (doc_id) GROUP BY 1, 2),
             |c AS (SELECT source, CAST(bin AS BIGINT) AS bin,
             |   CAST(n_docs AS BIGINT) AS n_docs,
             |   CAST(coalesce(sum(n_docs) OVER (PARTITION BY source ORDER BY bin
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
             |   CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS total
             |  FROM b)
             |SELECT source, bin, n_docs, cum_before, total,
             |  CASE WHEN cum_before * 100 < total * 10 THEN 'head'
             |   WHEN cum_before * 100 < total * 70 THEN 'middle'
             |   ELSE 'tail' END AS bucket
             |FROM c""".stripMargin)),

    Q("q231_score_calibration",
      (s, d) => graft.ops.TrainingData.scoreCalibration(T(s, d, "documents")),
      // q228's cascade replay as the outcome, the stopword score as the
      // confidence, decile bins, 1-row total for the ECE terms
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             | FROM documents),
             |r AS (SELECT *,
             |   CASE WHEN len(tl) = 0 THEN NULL
             |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
             |   END AS rep_ratio
             |  FROM m),
             |lab AS (SELECT doc_id,
             |   least(CAST(round(stopword_ratio * 1000000) AS BIGINT), 1000000) AS score_u,
             |   CASE WHEN n_tokens < 20 OR stopword_ratio < 0.02
             |     OR coalesce(rep_ratio > 0.65, FALSE) OR mean_word_len > 5.9
             |    THEN 0 ELSE 1 END AS label
             |  FROM r),
             |pb AS (SELECT score_u * 10 // 1000001 AS bin, count(*) AS n_docs,
             |   sum(label) AS n_pos, sum(score_u) AS sum_score
             |  FROM lab GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM pb)
             |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_pos AS BIGINT) AS n_pos,
             |  CAST(n_pos * 1000000 // n_docs AS BIGINT) AS acc_u,
             |  CAST(sum_score // n_docs AS BIGINT) AS conf_u,
             |  CAST(abs(n_pos * 1000000 // n_docs - sum_score // n_docs) AS BIGINT) AS gap_u,
             |  CAST(n_docs * abs(n_pos * 1000000 // n_docs - sum_score // n_docs) // t.n AS BIGINT) AS ece_term_u
             |FROM pb, tot t""".stripMargin)),

    Q("q232_shard_manifest",
      // q114's packing convention at verify scale (shardDocs=128,
      // budget=2048) so bins and shards are both exercised
      (s, d) => graft.ops.TrainingData.shardManifest(
        T(s, d, "documents"), budget = 2048, partCol = "lang",
        shardDocs = 128),
      Some(s"""WITH t AS (SELECT lang,
              |   CAST(floor(doc_id / 128) AS BIGINT) AS shard, doc_id,
              |   CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              |     AS BIGINT) AS n_tokens
              |  FROM documents),
              |c AS (SELECT lang, shard, doc_id, n_tokens,
              |   CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
              |     ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |     / 2048) AS BIGINT) AS bin
              |  FROM t)
              |SELECT lang, shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
              |  CAST(sum(n_tokens) * 1000000 // 2048 AS BIGINT) AS fill_u,
              |  CAST(bit_xor(${duckH60("'m:' || CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS digest,
              |  CAST(min(doc_id) AS BIGINT) AS first_doc,
              |  CAST(max(doc_id) AS BIGINT) AS last_doc
              |FROM c GROUP BY 1, 2, 3""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 11
  // Data-selection, incremental-shipping and in-engine-classifier operators.
  private val ext30Qs = Seq(
    Q("q233_moore_lewis",
      (s, d) => graft.ops.TextAnalysis.mooreLewisScore(
        T(s, d, "documents"), targetSource = "src3"),
      // one LM CTE carries both count columns; per-token integer CED terms
      Some("""WITH tl AS (SELECT doc_id, source,
             |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |lm AS (SELECT tok, count(*) AS cnt_gen,
             |   sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS cnt_in
             |  FROM tl GROUP BY 1),
             |nv AS (SELECT CAST(sum(cnt_gen) AS BIGINT) AS n_gen,
             |   CAST(sum(cnt_in) AS BIGINT) AS n_in,
             |   CAST(count(*) AS BIGINT) AS v FROM lm),
             |terms AS (SELECT t.doc_id, t.source,
             |   CAST(floor((ln((nv.n_in + nv.v + 1)::DOUBLE) - ln((lm.cnt_in + 1)::DOUBLE)) * 1000000)
             |    - floor((ln((nv.n_gen + nv.v + 1)::DOUBLE) - ln((lm.cnt_gen + 1)::DOUBLE)) * 1000000) AS BIGINT) AS term_u
             |  FROM tl t JOIN lm USING (tok), nv)
             |SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(term_u) AS BIGINT) AS sum_ced_u,
             |  (sum(term_u) < 0) AS in_domain
             |FROM terms GROUP BY 1, 2""".stripMargin)),

    Q("q234_manifest_diff",
      // new snapshot = deterministic ~1% removal (doc_id % 97 = 0 dropped);
      // q232's manifest geometry on both sides
      (s, d) => graft.ops.TrainingData.manifestDiff(
        T(s, d, "documents"),
        T(s, d, "documents").filter(col("doc_id") % 97 =!= 0),
        budget = 2048, partCol = "lang", shardDocs = 128),
      Some(s"""WITH t1 AS (SELECT lang,
              |   CAST(floor(doc_id / 128) AS BIGINT) AS shard, doc_id,
              |   CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              |     AS BIGINT) AS n_tokens
              |  FROM documents),
              |c1 AS (SELECT lang, shard, doc_id, n_tokens,
              |   CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
              |     ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |     / 2048) AS BIGINT) AS bin
              |  FROM t1),
              |m1 AS (SELECT lang, shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
              |   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
              |   CAST(bit_xor(${duckH60("'m:' || CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS digest
              |  FROM c1 GROUP BY 1, 2, 3),
              |t2 AS (SELECT lang,
              |   CAST(floor(doc_id / 128) AS BIGINT) AS shard, doc_id,
              |   CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              |     AS BIGINT) AS n_tokens
              |  FROM documents WHERE doc_id % 97 <> 0),
              |c2 AS (SELECT lang, shard, doc_id, n_tokens,
              |   CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
              |     ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |     / 2048) AS BIGINT) AS bin
              |  FROM t2),
              |m2 AS (SELECT lang, shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
              |   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
              |   CAST(bit_xor(${duckH60("'m:' || CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS digest
              |  FROM c2 GROUP BY 1, 2, 3)
              |SELECT coalesce(m1.lang, m2.lang) AS lang,
              |  coalesce(m1.shard, m2.shard) AS shard,
              |  coalesce(m1.bin, m2.bin) AS bin,
              |  coalesce(m1.n_docs, 0) AS n_docs_old,
              |  coalesce(m2.n_docs, 0) AS n_docs_new,
              |  coalesce(m1.sum_tokens, 0) AS sum_tokens_old,
              |  coalesce(m2.sum_tokens, 0) AS sum_tokens_new,
              |  CASE WHEN m1.digest IS NULL THEN 'added'
              |   WHEN m2.digest IS NULL THEN 'removed'
              |   WHEN m1.digest = m2.digest AND m1.n_docs = m2.n_docs THEN 'same'
              |   ELSE 'changed' END AS status
              |FROM m1 FULL OUTER JOIN m2
              |  ON m1.lang = m2.lang AND m1.shard = m2.shard AND m1.bin = m2.bin""".stripMargin)),

    Q("q235_naive_bayes_fit",
      (s, d) => graft.ops.Classifier.naiveBayesFit(T(s, d, "documents")),
      // q228's cascade replay as the label, q40's quality columns as the
      // features, a 3-way UNION ALL unpivot, one (feature, label) agg
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl,
             |  round((
             |    (length(text) - length(replace(text, '.', '')))
             |    + (length(text) - length(replace(text, ',', '')))
             |    + (length(text) - length(replace(text, '!', '')))
             |    + (length(text) - length(replace(text, '?', '')))
             |    + (length(text) - length(replace(text, ';', '')))
             |    + (length(text) - length(replace(text, ':', '')))
             |  )::DOUBLE / greatest(length(text)::DOUBLE, 1.0), 6) AS punct_ratio,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             | FROM documents),
             |r AS (SELECT *,
             |   CASE WHEN len(tl) = 0 THEN NULL
             |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
             |   END AS rep_ratio
             |  FROM m),
             |lab AS (SELECT doc_id, punct_ratio, n_tokens, mean_word_len,
             |   CASE WHEN n_tokens < 20 OR stopword_ratio < 0.02
             |     OR coalesce(rep_ratio > 0.65, FALSE) OR mean_word_len > 5.9
             |    THEN 0 ELSE 1 END AS label
             |  FROM r),
             |f AS (
             |  SELECT doc_id, label, 'punct_heavy' AS feature,
             |    CASE WHEN punct_ratio > 0.03 THEN 1 ELSE 0 END AS fire FROM lab
             |  UNION ALL SELECT doc_id, label, 'longish',
             |    CASE WHEN n_tokens > 60 THEN 1 ELSE 0 END FROM lab
             |  UNION ALL SELECT doc_id, label, 'long_words',
             |    CASE WHEN mean_word_len > 4.5 THEN 1 ELSE 0 END FROM lab)
             |SELECT feature, CAST(label AS BIGINT) AS label,
             |  CAST(count(*) AS BIGINT) AS n_label,
             |  CAST(sum(fire) AS BIGINT) AS n_fire,
             |  CAST((sum(fire) + 1) * 1000000 // (count(*) + 2) AS BIGINT) AS p_fire_u
             |FROM f GROUP BY 1, 2""".stripMargin)),

    Q("q236_naive_bayes_score",
      (s, d) => graft.ops.Classifier.naiveBayesScore(T(s, d, "documents")),
      // q235's fit pivoted per feature, per-(doc, feature) integer LLR
      // terms, (doc)-rollup + the 1-row prior attach (shared WITH-chain:
      // nbScoreOracleWith, also the base of the q238/q250 oracles)
      Some(nbScoreOracleWith + """
             |SELECT doc_id, CAST(label AS BIGINT) AS weak_label,
             |  CAST(sum_llr_u + p.prior_u AS BIGINT) AS score_u,
             |  CAST(CASE WHEN sum_llr_u + p.prior_u > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred_label,
             |  (CASE WHEN sum_llr_u + p.prior_u > 0 THEN 1 ELSE 0 END) = label AS agree
             |FROM scw, pri p""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 12
  // Disclosure-distance, label-noise, source-divergence and purity audits.
  private val ext31Qs = Seq(
    Q("q237_t_closeness",
      (s, d) => graft.ops.Privacy.tClosenessAudit(T(s, d, "customer"),
        Seq(col("c_nationkey"), floor(col("c_acctbal") / 1000)),
        col("c_mktsegment")),
      // q229's class relation + per-class TV distance vs the global
      // sensitive distribution; absent values fold in as 1e6 - sum(g_u)
      Some("""WITH csv AS (SELECT c_nationkey AS qk0,
             |   CAST(floor(c_acctbal / 1000) AS BIGINT) AS qk1,
             |   c_mktsegment AS sv, CAST(count(*) AS BIGINT) AS c_cs
             |  FROM customer GROUP BY 1, 2, 3),
             |g AS (SELECT sv, CAST(sum(c_cs) AS BIGINT) AS c_gs FROM csv GROUP BY 1),
             |tot AS (SELECT CAST(sum(c_gs) AS BIGINT) AS n FROM g),
             |gs AS (SELECT sv, CAST(c_gs * 1000000 // n AS BIGINT) AS g_u FROM g, tot),
             |cl AS (SELECT csv.qk0, csv.qk1, csv.c_cs, gs.g_u,
             |   CAST(sum(c_cs) OVER (PARTITION BY qk0, qk1) AS BIGINT) AS sz
             |  FROM csv JOIN gs USING (sv)),
             |pc AS (SELECT qk0, qk1, max(sz) AS sz,
             |   CAST((sum(abs(c_cs * 1000000 // sz - g_u)) + 1000000 - sum(g_u)) // 2
             |     AS BIGINT) AS dist_u
             |  FROM cl GROUP BY 1, 2),
             |spine AS (SELECT unnest([100000, 300000, 600000]) AS t_u),
             |t2 AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
             |   CAST(sum(sz) AS BIGINT) AS n_rows FROM pc),
             |per AS (SELECT s.t_u,
             |   CAST(sum(CASE WHEN p.dist_u > s.t_u THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_above,
             |   CAST(sum(CASE WHEN p.dist_u > s.t_u THEN p.sz ELSE 0 END) AS BIGINT) AS n_rows_above
             |  FROM spine s, pc p GROUP BY 1)
             |SELECT CAST(p.t_u AS BIGINT) AS t_u, t.n_classes, t.n_rows,
             |  p.n_classes_above, p.n_rows_above,
             |  CAST(p.n_rows_above * 1000000 // t.n_rows AS BIGINT) AS risk_u
             |FROM per p, t2 t""".stripMargin)),

    Q("q238_label_noise",
      (s, d) => graft.ops.Classifier.labelNoiseAudit(T(s, d, "documents")),
      // q236's scoring chain (nbScoreOracleWith) rolled to the
      // (weak, pred) confusion cells
      Some(nbScoreOracleWith + """,
             |cells AS (SELECT CAST(label AS BIGINT) AS weak_label,
             |   CAST(CASE WHEN sum_llr_u + p.prior_u > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred_label,
             |   CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(sum(abs(sum_llr_u + p.prior_u)) AS BIGINT) AS sum_abs
             |  FROM scw, pri p GROUP BY 1, 2),
             |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM cells)
             |SELECT weak_label, pred_label, n_docs,
             |  CAST(n_docs * 1000000 // t.n AS BIGINT) AS share_u,
             |  CAST(sum_abs // n_docs AS BIGINT) AS mean_abs_score_u,
             |  (weak_label <> pred_label) AS noise_suspect
             |FROM cells, tt t""".stripMargin)),

    Q("q239_source_divergence",
      (s, d) => graft.ops.TextAnalysis.sourceDivergence(T(s, d, "documents")),
      // (source, tok) masses -> per-token floor'd JSD terms on shared
      // tokens + two residual-mass ln2 terms per pair
      Some("""WITH tl AS (SELECT source,
             |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM tl GROUP BY 1, 2),
             |tt AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM st GROUP BY 1),
             |a AS (SELECT st.source AS source_x, st.tok, st.cnt AS cx, tt.n AS nx
             |  FROM st JOIN tt USING (source)),
             |b AS (SELECT st.source AS source_y, st.tok, st.cnt AS cy, tt.n AS ny
             |  FROM st JOIN tt USING (source)),
             |mt AS (SELECT a.source_x, b.source_y, a.cx, b.cy, a.nx, b.ny,
             |   CAST(floor((a.cx::DOUBLE / a.nx * ln(2 * (a.cx::DOUBLE / a.nx) / (a.cx::DOUBLE / a.nx + b.cy::DOUBLE / b.ny))
             |     + b.cy::DOUBLE / b.ny * ln(2 * (b.cy::DOUBLE / b.ny) / (a.cx::DOUBLE / a.nx + b.cy::DOUBLE / b.ny)))
             |     * 1000000) AS BIGINT) AS term_u
             |  FROM a JOIN b ON a.tok = b.tok AND a.source_x < b.source_y),
             |g AS (SELECT source_x, source_y, CAST(count(*) AS BIGINT) AS shared_toks,
             |   CAST(sum(cx) AS BIGINT) AS mx, CAST(sum(cy) AS BIGINT) AS my,
             |   max(nx) AS nx, max(ny) AS ny, CAST(sum(term_u) AS BIGINT) AS m_u
             |  FROM mt GROUP BY 1, 2)
             |SELECT source_x, source_y, shared_toks,
             |  CAST(mx * 1000000 // nx AS BIGINT) AS overlap_x_u,
             |  CAST(my * 1000000 // ny AS BIGINT) AS overlap_y_u,
             |  CAST((m_u
             |    + CAST(floor((nx - mx)::DOUBLE / nx * ln(2) * 1000000) AS BIGINT)
             |    + CAST(floor((ny - my)::DOUBLE / ny * ln(2) * 1000000) AS BIGINT)) // 2
             |   AS BIGINT) AS jsd_u
             |FROM g""".stripMargin)),

    Q("q240_label_purity",
      (s, d) => graft.ops.Similarity.labelPurity(T(s, d, "embeddings")),
      // the shared hyperplane-cell chain + per-cell label concentration;
      // majority via arg_max on the (cnt, -label) composite
      Some(hplaneCellStages(recursive = false) +
        """,
          |lr AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
          |cl AS (SELECT c.cell, l.label, CAST(count(*) AS BIGINT) AS cnt
          |  FROM cells c JOIN lr l USING (vec_id) GROUP BY 1, 2),
          |ws AS (SELECT cell, label, cnt,
          |   CAST(sum(cnt) OVER (PARTITION BY cell) AS BIGINT) AS sz FROM cl),
          |t2 AS (SELECT cell, label, cnt, sz,
          |   CAST(floor(cnt::DOUBLE / sz * ln(sz::DOUBLE / cnt) * 1000000) AS BIGINT) AS term_u
          |  FROM ws)
          |SELECT cell, max(sz) AS n_vecs, CAST(count(*) AS BIGINT) AS n_labels,
          |  CAST(arg_max(label, cnt * 1000000 - label) AS BIGINT) AS majority_label,
          |  CAST(arg_max(cnt, cnt * 1000000 - label) * 1000000 // max(sz) AS BIGINT) AS majority_u,
          |  CAST(sum(term_u) AS BIGINT) AS entropy_u
          |FROM t2 GROUP BY 1""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 13
  // Language-confusion, epoch-plan, streaming-digest and dedup-preview ops.
  private val ext32Qs = Seq(
    Q("q241_lang_confusion",
      (s, d) => graft.ops.TextAnalysis.langConfusion(T(s, d, "documents")),
      // q41's generated scoring chain + the (lang, lang_pred) rollup
      Some {
        def occ(pat: String): String = {
          val esc = pat.replace("'", "''")
          s"((length(' '||text||' ') - length(replace(' '||text||' ', '$esc', ''))) / ${pat.length})"
        }
        val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
          lang -> words.map(occ).mkString(" + ")
        }
        val keys = scores.map { case (lang, e) =>
          s"lpad(CAST(CAST($e AS BIGINT) AS VARCHAR), 10, '0') || '$lang'"
        }.mkString(", ")
        s"""WITH pred AS (SELECT doc_id, lang,
           |   substr(best, 11, 2) AS lang_pred,
           |   CAST(substr(best, 1, 10) AS BIGINT) AS lang_score
           |  FROM (SELECT doc_id, lang, greatest($keys) AS best FROM documents)),
           |cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
           |   CAST(sum(lang_score) AS BIGINT) AS sum_score
           |  FROM pred GROUP BY 1, 2),
           |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM cells)
           |SELECT lang, lang_pred, n_docs,
           |  CAST(n_docs * 1000000 // t.n AS BIGINT) AS share_u,
           |  CAST(sum_score // n_docs AS BIGINT) AS mean_score,
           |  (lang <> lang_pred) AS mismatch
           |FROM cells, tot t""".stripMargin
      }),

    Q("q242_epoch_plan",
      (s, d) => graft.ops.TrainingData.epochPlan(T(s, d, "documents"),
        budgetTokens = 100000000L),
      Some("""WITH ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS avail_tokens
             |  FROM documents GROUP BY 1),
             |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM ps)
             |SELECT source, n_docs, avail_tokens,
             |  CAST(100000000 // n_sources AS BIGINT) AS target_tokens,
             |  CAST((100000000 // n_sources + greatest(avail_tokens, 1) - 1)
             |    // greatest(avail_tokens, 1) AS BIGINT) AS epochs,
             |  CAST(least(avail_tokens * 1000000 // greatest(100000000 // n_sources, 1),
             |    1000000) AS BIGINT) AS unique_u
             |FROM ps, ns""".stripMargin)),

    Q("q243_shard_digest",
      // the batch twin of the streaming digest layer (stream≡batch proven
      // in Round8Batch13Spec); geometry matches q232
      (s, d) => graft.streaming.ManifestStream.shardDigestBatch(
        T(s, d, "documents"), shardDocs = 128),
      Some(s"""WITH t AS (SELECT lang,
              |   CAST(floor(doc_id / 128) AS BIGINT) AS shard, doc_id,
              |   CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              |     AS BIGINT) AS n_tokens
              |  FROM documents)
              |SELECT lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
              |  CAST(bit_xor(${duckH60("'m:' || CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS digest,
              |  CAST(min(doc_id) AS BIGINT) AS first_doc,
              |  CAST(max(doc_id) AS BIGINT) AS last_doc
              |FROM t GROUP BY 1, 2""".stripMargin)),

    Q("q244_dup_rate_estimate",
      (s, d) => graft.ops.Dedup.dupRateEstimate(T(s, d, "documents")),
      // q35's signature CTEs, band 0 only, bucket-size rollup
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1
             |  FROM toks GROUP BY doc_id),
             |bu AS (SELECT md5(h0 || '|' || h1) AS key, CAST(count(*) AS BIGINT) AS sz
             |  FROM sig GROUP BY 1)
             |SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS n_buckets,
             |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
             |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS est_pairs,
             |  CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) * 1000000 // sum(sz) AS BIGINT) AS multi_mass_u
             |FROM bu""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 14
  // Mixture-advisor and classifier-curated pipeline compositions.
  private val ext33Qs = Seq(
    Q("q245_mixture_advisor",
      (s, d) => graft.ops.TrainingData.mixtureAdvisor(T(s, d, "documents")),
      // three component chains replayed (cascade keep rate, one-band dup
      // share per source, q239's pairwise JSD averaged per source) and the
      // chained micro-unit product normalized over sources
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             | FROM documents),
             |r AS (SELECT *,
             |   CASE WHEN len(tl) = 0 THEN NULL
             |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
             |   END AS rep_ratio
             |  FROM m),
             |lab AS (SELECT doc_id,
             |   CASE WHEN n_tokens < 20 OR stopword_ratio < 0.02
             |     OR coalesce(rep_ratio > 0.65, FALSE) OR mean_word_len > 5.9
             |    THEN 0 ELSE 1 END AS label
             |  FROM r),
             |src AS (SELECT doc_id, source FROM documents),
             |q AS (SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(sum(l.label) AS BIGINT) AS n_keep
             |  FROM lab l JOIN src s USING (doc_id) GROUP BY 1),
             |words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1
             |  FROM toks GROUP BY doc_id),
             |bu AS (SELECT s.source, md5(h0 || '|' || h1) AS key,
             |   CAST(count(*) AS BIGINT) AS sz
             |  FROM sig JOIN src s USING (doc_id) GROUP BY 1, 2),
             |du AS (SELECT source,
             |   CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) * 1000000 // sum(sz) AS BIGINT) AS dup_u
             |  FROM bu GROUP BY 1),
             |tl2 AS (SELECT source,
             |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM tl2 GROUP BY 1, 2),
             |tt AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM st GROUP BY 1),
             |a AS (SELECT st.source AS source_x, st.tok, st.cnt AS cx, tt.n AS nx
             |  FROM st JOIN tt USING (source)),
             |b AS (SELECT st.source AS source_y, st.tok, st.cnt AS cy, tt.n AS ny
             |  FROM st JOIN tt USING (source)),
             |mt AS (SELECT a.source_x, b.source_y, a.cx, b.cy, a.nx, b.ny,
             |   CAST(floor((a.cx::DOUBLE / a.nx * ln(2 * (a.cx::DOUBLE / a.nx) / (a.cx::DOUBLE / a.nx + b.cy::DOUBLE / b.ny))
             |     + b.cy::DOUBLE / b.ny * ln(2 * (b.cy::DOUBLE / b.ny) / (a.cx::DOUBLE / a.nx + b.cy::DOUBLE / b.ny)))
             |     * 1000000) AS BIGINT) AS term_u
             |  FROM a JOIN b ON a.tok = b.tok AND a.source_x < b.source_y),
             |g AS (SELECT source_x, source_y,
             |   CAST(sum(cx) AS BIGINT) AS mx, CAST(sum(cy) AS BIGINT) AS my,
             |   max(nx) AS nx, max(ny) AS ny, CAST(sum(term_u) AS BIGINT) AS m_u
             |  FROM mt GROUP BY 1, 2),
             |jsd AS (SELECT source_x, source_y,
             |   CAST((m_u
             |     + CAST(floor((nx - mx)::DOUBLE / nx * ln(2) * 1000000) AS BIGINT)
             |     + CAST(floor((ny - my)::DOUBLE / ny * ln(2) * 1000000) AS BIGINT)) // 2
             |    AS BIGINT) AS jsd_u
             |  FROM g),
             |jp AS (SELECT source_x AS source, jsd_u FROM jsd
             |  UNION ALL SELECT source_y, jsd_u FROM jsd),
             |jl AS (SELECT source, CAST(sum(jsd_u) // count(*) AS BIGINT) AS mean_jsd_u
             |  FROM jp GROUP BY 1),
             |c AS (SELECT q.source, q.n_docs,
             |   CAST(q.n_keep * 1000000 // q.n_docs AS BIGINT) AS keep_u,
             |   CAST(coalesce(du.dup_u, 0) AS BIGINT) AS dup_u,
             |   CAST(coalesce(jl.mean_jsd_u * 1000000 // 693147, 0) AS BIGINT) AS jsd_norm_u
             |  FROM q LEFT JOIN du USING (source) LEFT JOIN jl USING (source)),
             |cc AS (SELECT *,
             |   CAST(keep_u * (1000000 - dup_u) // 1000000 * jsd_norm_u // 1000000 AS BIGINT) AS raw_u
             |  FROM c),
             |w AS (SELECT CAST(sum(raw_u) AS BIGINT) AS w FROM cc)
             |SELECT cc.source, cc.n_docs, cc.keep_u, cc.dup_u, cc.jsd_norm_u,
             |  CAST(cc.raw_u * 1000000 // greatest(w.w, 1) AS BIGINT) AS weight_u
             |FROM cc, w""".stripMargin)),

    Q("q246_classifier_pipeline",
      (s, d) => graft.ops.Pipeline.classifierCurated(T(s, d, "documents")),
      // q236's scoring chain gates the corpus, exact-hash keepers, q111's
      // split rule, three funnel counts riding every row
      Some(s"""WITH m AS (SELECT doc_id,
              |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
              |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tl,
              |  round((
              |    (length(text) - length(replace(text, '.', '')))
              |    + (length(text) - length(replace(text, ',', '')))
              |    + (length(text) - length(replace(text, '!', '')))
              |    + (length(text) - length(replace(text, '?', '')))
              |    + (length(text) - length(replace(text, ';', '')))
              |    + (length(text) - length(replace(text, ':', '')))
              |  )::DOUBLE / greatest(length(text)::DOUBLE, 1.0), 6) AS punct_ratio,
              |  round((
              |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
              |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
              |  round(length(text)::DOUBLE
              |    / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
              | FROM documents),
              |r AS (SELECT *,
              |   CASE WHEN len(tl) = 0 THEN NULL
              |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
              |   END AS rep_ratio
              |  FROM m),
              |lab AS (SELECT doc_id, punct_ratio, n_tokens, mean_word_len,
              |   CASE WHEN n_tokens < 20 OR stopword_ratio < 0.02
              |     OR coalesce(rep_ratio > 0.65, FALSE) OR mean_word_len > 5.9
              |    THEN 0 ELSE 1 END AS label
              |  FROM r),
              |f AS (
              |  SELECT doc_id, label, 'punct_heavy' AS feature,
              |    CASE WHEN punct_ratio > 0.03 THEN 1 ELSE 0 END AS fire FROM lab
              |  UNION ALL SELECT doc_id, label, 'longish',
              |    CASE WHEN n_tokens > 60 THEN 1 ELSE 0 END FROM lab
              |  UNION ALL SELECT doc_id, label, 'long_words',
              |    CASE WHEN mean_word_len > 4.5 THEN 1 ELSE 0 END FROM lab),
              |fit AS (SELECT feature, label, count(*) AS n_label, sum(fire) AS n_fire
              |  FROM f GROUP BY 1, 2),
              |bf AS (SELECT feature,
              |   coalesce(max(CASE WHEN label = 1 THEN n_label END), 0) AS n1,
              |   coalesce(max(CASE WHEN label = 1 THEN n_fire END), 0) AS f1,
              |   coalesce(max(CASE WHEN label = 0 THEN n_label END), 0) AS n0,
              |   coalesce(max(CASE WHEN label = 0 THEN n_fire END), 0) AS f0
              |  FROM fit GROUP BY 1),
              |pri AS (SELECT CAST(
              |   floor((ln((max(n1) + 1)::DOUBLE) - ln((max(n1) + max(n0) + 2)::DOUBLE)) * 1000000)
              |   - floor((ln((max(n0) + 1)::DOUBLE) - ln((max(n1) + max(n0) + 2)::DOUBLE)) * 1000000)
              |  AS BIGINT) AS prior_u FROM bf),
              |terms AS (SELECT fx.doc_id, fx.label,
              |   CAST(floor((ln((CASE WHEN fx.fire = 1 THEN b.f1 + 1 ELSE b.n1 - b.f1 + 1 END)::DOUBLE)
              |      - ln((b.n1 + 2)::DOUBLE)) * 1000000)
              |    - floor((ln((CASE WHEN fx.fire = 1 THEN b.f0 + 1 ELSE b.n0 - b.f0 + 1 END)::DOUBLE)
              |      - ln((b.n0 + 2)::DOUBLE)) * 1000000) AS BIGINT) AS term_u
              |  FROM f fx JOIN bf b USING (feature)),
              |sc AS (SELECT doc_id, sum(term_u) AS sum_llr_u
              |  FROM terms GROUP BY 1),
              |kept AS (SELECT d.doc_id, d.lang, d.text
              |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id, pri p
              |  WHERE sc.sum_llr_u + p.prior_u > 0),
              |ex AS (SELECT min(doc_id) AS keep_id FROM kept GROUP BY md5(text)),
              |uniq AS (SELECT k.doc_id, k.lang FROM kept k
              |  JOIN ex ON ex.keep_id = k.doc_id),
              |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_raw FROM documents),
              |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_kept FROM kept),
              |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_unique FROM uniq)
              |SELECT u.doc_id, u.lang,
              |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
              |   ELSE 'test' END AS split,
              |  nr.n_raw, nk.n_kept, nu.n_unique
              |FROM (SELECT doc_id, lang,
              |   ${duckH60("CAST(doc_id AS VARCHAR)")} % 100 AS h FROM uniq) u,
              | nr, nk, nu""".stripMargin)))

  // ---------------------------------------------------------------- round-8 batch 15
  // Water-filling allocation and the vocabulary-spectrum audit.
  private val ext34Qs = Seq(
    Q("q247_water_fill",
      (s, d) => graft.ops.TrainingData.waterFill(T(s, d, "documents"),
        budgetTokens = 20000L),
      Some("""WITH ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS avail_tokens
             |  FROM documents GROUP BY 1),
             |pos AS (SELECT *,
             |   CAST(row_number() OVER (ORDER BY avail_tokens, source) AS BIGINT) AS pos,
             |   CAST(coalesce(sum(avail_tokens) OVER (ORDER BY avail_tokens, source
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix_before
             |  FROM ps),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS k FROM pos),
             |fl AS (SELECT p.*, t.k,
             |   (p.avail_tokens * (t.k - p.pos + 1) <= 20000 - p.prefix_before) AS funded
             |  FROM pos p, tot t),
             |fs AS (SELECT
             |   CAST(sum(CASE WHEN funded THEN avail_tokens ELSE 0 END) AS BIGINT) AS f_mass,
             |   CAST(sum(CASE WHEN funded THEN 1 ELSE 0 END) AS BIGINT) AS n_funded,
             |   CAST(count(*) AS BIGINT) AS k2 FROM fl)
             |SELECT source, n_docs, avail_tokens, funded, alloc_tokens,
             |  CAST(alloc_tokens * 1000000 // greatest(avail_tokens, 1) AS BIGINT) AS fill_u
             |FROM (SELECT fl.source, fl.n_docs, fl.avail_tokens, fl.funded,
             |   CAST(CASE WHEN fl.funded THEN fl.avail_tokens
             |    ELSE (20000 - fs.f_mass) // greatest(fs.k2 - fs.n_funded, 1) END
             |     AS BIGINT) AS alloc_tokens
             |  FROM fl, fs)""".stripMargin)),

    Q("q248_vocab_spectrum",
      (s, d) => graft.ops.TextAnalysis.vocabSpectrum(T(s, d, "documents")),
      // count-of-counts over the vocabulary; floor-log2 via bin-string
      // length (the q222 trick)
      Some("""WITH vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
             |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '')) AS tok FROM documents) GROUP BY 1),
             |bins AS (SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS bin,
             |   CAST(count(*) AS BIGINT) AS n_types,
             |   CAST(sum(cnt) AS BIGINT) AS token_mass
             |  FROM vocab GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_types) AS BIGINT) AS n_types_total,
             |   CAST(sum(token_mass) AS BIGINT) AS n_tokens_total,
             |   CAST(sum(CASE WHEN bin = 0 THEN n_types ELSE 0 END) AS BIGINT) AS n_hapax_bin
             |  FROM bins)
             |SELECT bin, n_types, token_mass, t.n_types_total, t.n_tokens_total,
             |  CAST(t.n_hapax_bin * 1000000 // t.n_types_total AS BIGINT) AS hapax_share_u
             |FROM bins, tot t""".stripMargin)))

  // ---------------------------------------------------------------- round-9 batch 1
  // Fuzzy eval-set decontamination, chance-corrected labeler agreement,
  // robust (median/MAD) outlier + Benford + KS-drift audits, the HLL
  // set-intersection estimate, and the embedding isotropy gauge.

  /** The Bernoulli-NB scoring replay up through the per-doc summed-LLR
    * relation `scw` and the 1-row prior `pri` — the WITH-chain shared
    * verbatim by the q236 scoring, q238 label-noise and q250 κ oracles
    * (each appends its own rollup tail). */
  private lazy val nbScoreOracleWith: String =
    """WITH m AS (SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl,
      |  round((
      |    (length(text) - length(replace(text, '.', '')))
      |    + (length(text) - length(replace(text, ',', '')))
      |    + (length(text) - length(replace(text, '!', '')))
      |    + (length(text) - length(replace(text, '?', '')))
      |    + (length(text) - length(replace(text, ';', '')))
      |    + (length(text) - length(replace(text, ':', '')))
      |  )::DOUBLE / greatest(length(text)::DOUBLE, 1.0), 6) AS punct_ratio,
      |  round((
      |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
      |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
      |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
      |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
      |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
      |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
      |  round(length(text)::DOUBLE
      |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
      | FROM documents),
      |r AS (SELECT *,
      |   CASE WHEN len(tl) = 0 THEN NULL
      |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
      |   END AS rep_ratio
      |  FROM m),
      |lab AS (SELECT doc_id, punct_ratio, n_tokens, mean_word_len,
      |   CASE WHEN n_tokens < 20 OR stopword_ratio < 0.02
      |     OR coalesce(rep_ratio > 0.65, FALSE) OR mean_word_len > 5.9
      |    THEN 0 ELSE 1 END AS label
      |  FROM r),
      |f AS (
      |  SELECT doc_id, label, 'punct_heavy' AS feature,
      |    CASE WHEN punct_ratio > 0.03 THEN 1 ELSE 0 END AS fire FROM lab
      |  UNION ALL SELECT doc_id, label, 'longish',
      |    CASE WHEN n_tokens > 60 THEN 1 ELSE 0 END FROM lab
      |  UNION ALL SELECT doc_id, label, 'long_words',
      |    CASE WHEN mean_word_len > 4.5 THEN 1 ELSE 0 END FROM lab),
      |fit AS (SELECT feature, label, count(*) AS n_label, sum(fire) AS n_fire
      |  FROM f GROUP BY 1, 2),
      |bf AS (SELECT feature,
      |   coalesce(max(CASE WHEN label = 1 THEN n_label END), 0) AS n1,
      |   coalesce(max(CASE WHEN label = 1 THEN n_fire END), 0) AS f1,
      |   coalesce(max(CASE WHEN label = 0 THEN n_label END), 0) AS n0,
      |   coalesce(max(CASE WHEN label = 0 THEN n_fire END), 0) AS f0
      |  FROM fit GROUP BY 1),
      |pri AS (SELECT CAST(
      |   floor((ln((max(n1) + 1)::DOUBLE) - ln((max(n1) + max(n0) + 2)::DOUBLE)) * 1000000)
      |   - floor((ln((max(n0) + 1)::DOUBLE) - ln((max(n1) + max(n0) + 2)::DOUBLE)) * 1000000)
      |  AS BIGINT) AS prior_u FROM bf),
      |terms AS (SELECT fx.doc_id, fx.label,
      |   CAST(floor((ln((CASE WHEN fx.fire = 1 THEN b.f1 + 1 ELSE b.n1 - b.f1 + 1 END)::DOUBLE)
      |      - ln((b.n1 + 2)::DOUBLE)) * 1000000)
      |    - floor((ln((CASE WHEN fx.fire = 1 THEN b.f0 + 1 ELSE b.n0 - b.f0 + 1 END)::DOUBLE)
      |      - ln((b.n0 + 2)::DOUBLE)) * 1000000) AS BIGINT) AS term_u
      |  FROM f fx JOIN bf b USING (feature)),
      |scw AS (SELECT doc_id, label, sum(term_u) AS sum_llr_u
      |  FROM terms GROUP BY 1, 2)""".stripMargin

  /** α·m²·2⁵² for the m=512 HLL estimator (α = 0.7213/(1 + 1.079/512)),
    * computed ONCE driver-side and interpolated into both engines' plans as
    * the same decimal literal (Double.toString round-trips, so DuckDB
    * parses back the identical IEEE value). Declared BEFORE ext35Qs — the
    * oracle string interpolates it at object init, in declaration order. */
  private val hllAlphaNum512: Double =
    0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 4503599627370496.0

  /** The q197 funnel replay, parametrized for the q257 fuzzy variant:
    * `fuzzy` inserts the near-dup bench screen (off the SAME materialized
    * `mh` pair relation, mirroring the Scala reuse of pairsAll) between
    * stages 4 and 5 and threads its funnel count through. */
  private def pretrainOracle(fuzzy: Boolean): String = {
    val fuzzySel = if (!fuzzy) "" else " c3f.n_fuzzy_clean,"
    val fuzzyFrom = if (!fuzzy) "" else " c3f,"
    pretrainCtes(fuzzy) + s"""
             |SELECT p.lang, p.shard, p.bin, p.n_docs, p.sum_tokens,
             |  p.first_doc, p.last_doc, c0.n_raw, c1.n_cascade, c2.n_dedup,
             |  c3.n_clean,$fuzzySel c4.n_train
             |FROM packed p, c0, c1, c2, c3,$fuzzyFrom c4""".stripMargin
  }

  /** The q197 stage-chain CTEs (through the funnel count CTEs c0..c4),
    * WITHOUT a final SELECT — shared by [[pretrainOracle]] and the q265
    * release-composition oracle. */
  private def pretrainCtes(fuzzy: Boolean): String = {
    val d4v = if (fuzzy) "d4f" else "d4"
    val fuzzyCtes = if (!fuzzy) "" else """
             |fcontam AS (SELECT DISTINCT CASE WHEN a % 7 = 0 THEN b ELSE a END AS doc_id
             |  FROM mh WHERE jaccard >= 0.8 AND ((a % 7 = 0) <> (b % 7 = 0))),
             |d4f AS MATERIALIZED (SELECT * FROM d4
             |  WHERE doc_id NOT IN (SELECT doc_id FROM fcontam)),""".stripMargin
    val fuzzyCount = if (!fuzzy) "" else """
             |c3f AS (SELECT count(*) AS n_fuzzy_clean FROM d4f),""".stripMargin
    s"""WITH RECURSIVE
             |ctoks AS (SELECT doc_id,
             |   unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |crep AS (SELECT doc_id,
             |   floor((1.0 - count(DISTINCT tok) / count(*)) * 1000000) / 1000000 AS rep_ratio
             |  FROM ctoks GROUP BY 1),
             |cm AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             | FROM documents),
             |kept1 AS MATERIALIZED (SELECT d.doc_id, d.lang, d.text
             |  FROM documents d JOIN cm ON cm.doc_id = d.doc_id
             |  LEFT JOIN crep ON crep.doc_id = d.doc_id
             |  WHERE NOT (cm.n_tokens < 20) AND NOT (cm.stopword_ratio < 0.02)
             |   AND NOT coalesce(crep.rep_ratio > 0.65, FALSE)
             |   AND NOT (cm.mean_word_len > 5.9)),
             |lines AS (SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos,
             |   unnest(parts) AS line
             |  FROM (SELECT doc_id, string_split(text, ' line ') AS parts FROM kept1) s),
             |ldups AS (SELECT line FROM lines GROUP BY line HAVING count(*) > 2),
             |d2 AS MATERIALIZED (SELECT k.doc_id, k.lang, coalesce(ka.text_dedup, '') AS text
             |  FROM kept1 k LEFT JOIN (
             |    SELECT doc_id, string_agg(line, ' line ' ORDER BY pos) AS text_dedup
             |    FROM lines WHERE line NOT IN (SELECT line FROM ldups)
             |    GROUP BY 1) ka ON ka.doc_id = k.doc_id),
             |words AS (SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
             |    x -> x <> '') AS tl FROM d2)),
             |mtoks AS MATERIALIZED (
             |  SELECT DISTINCT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |sig AS (SELECT doc_id,
             |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
             |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
             |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
             |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
             |  FROM mtoks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
             |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
             |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
             |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
             |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
             |   AND x.doc_id < y.doc_id),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM mtoks GROUP BY 1),
             |inter AS (SELECT c.a, c.b, count(*) AS i
             |  FROM cand c JOIN mtoks ta ON ta.doc_id = c.a
             |  JOIN mtoks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
             |  GROUP BY 1, 2),
             |mh AS MATERIALIZED (SELECT c.a, c.b,
             |  floor(CAST(coalesce(i.i, 0) AS DOUBLE)
             |    / (sa.sz + sb.sz - coalesce(i.i, 0)) * 1000000) / 1000000 AS jaccard
             |FROM cand c
             |LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             |JOIN sizes sa ON sa.doc_id = c.a
             |JOIN sizes sb ON sb.doc_id = c.b
             |WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE)
             |    / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.5),
             |nd08 AS (SELECT a, b FROM mh WHERE jaccard >= 0.8),
             |und(a, b) AS MATERIALIZED (SELECT a, b FROM nd08 UNION SELECT b, a FROM nd08),
             |r(s, id) AS (
             |  SELECT doc_id, doc_id FROM d2
             |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
             |cl AS (SELECT s AS doc_id, min(id) AS cluster FROM r GROUP BY s),
             |nt AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             |    AS BIGINT) AS n_tokens FROM d2),
             |kp AS (SELECT cl.doc_id FROM cl JOIN nt ON nt.doc_id = cl.doc_id
             |  QUALIFY row_number() OVER (PARTITION BY cl.cluster
             |    ORDER BY nt.n_tokens DESC, cl.doc_id) = 1),
             |d3 AS MATERIALIZED (SELECT d2.* FROM d2 JOIN kp USING (doc_id)),
             |dwords AS (SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
             |    x -> x <> '') AS tl FROM d3)),
             |dg AS MATERIALIZED (SELECT DISTINCT doc_id,
             |   w || ' ' || lead(w, 1) OVER dwin || ' ' || lead(w, 2) OVER dwin
             |    || ' ' || lead(w, 3) OVER dwin || ' ' || lead(w, 4) OVER dwin
             |    || ' ' || lead(w, 5) OVER dwin || ' ' || lead(w, 6) OVER dwin
             |    || ' ' || lead(w, 7) OVER dwin AS gram
             |  FROM dwords WINDOW dwin AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 7) OVER dwin IS NOT NULL),
             |contam AS (SELECT DISTINCT t.doc_id
             |  FROM dg t JOIN dg b ON b.gram = t.gram
             |   AND b.doc_id % 7 = 0 AND t.doc_id % 7 <> 0),
             |d4 AS MATERIALIZED (SELECT * FROM d3 WHERE doc_id % 7 <> 0
             |  AND doc_id NOT IN (SELECT doc_id FROM contam)),$fuzzyCtes
             |und2(a, b) AS MATERIALIZED (
             |  SELECT a, b FROM mh
             |   WHERE a IN (SELECT doc_id FROM $d4v) AND b IN (SELECT doc_id FROM $d4v)
             |  UNION SELECT b, a FROM mh
             |   WHERE a IN (SELECT doc_id FROM $d4v) AND b IN (SELECT doc_id FROM $d4v)),
             |r2(s, id) AS (
             |  SELECT doc_id, doc_id FROM $d4v
             |  UNION SELECT r2.s, u.b FROM r2 JOIN und2 u ON u.a = r2.id),
             |cl2 AS (SELECT s AS doc_id, min(id) AS cluster FROM r2 GROUP BY s),
             |sp AS (SELECT doc_id,
             |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
             |       ELSE 'test' END AS split
             |  FROM (SELECT doc_id,
             |    ${duckH60("CAST(cluster AS VARCHAR)")} % 100 AS h FROM cl2)),
             |tr AS (SELECT t4.doc_id, t4.lang, t4.text
             |  FROM $d4v t4 JOIN sp ON sp.doc_id = t4.doc_id AND sp.split = 'train'),
             |pt AS (SELECT lang, CAST(floor(doc_id / 128) AS BIGINT) AS shard, doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             |    AS BIGINT) AS n_tokens FROM tr),
             |pcc AS (SELECT lang, shard, doc_id, n_tokens,
             |  coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre FROM pt),
             |packed AS (SELECT lang, shard, CAST(floor(pre / 2048) AS BIGINT) AS bin,
             |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             | FROM pcc GROUP BY 1, 2, 3),
             |c0 AS (SELECT count(*) AS n_raw FROM documents),
             |c1 AS (SELECT count(*) AS n_cascade FROM kept1),
             |c2 AS (SELECT count(*) AS n_dedup FROM d3),
             |c3 AS (SELECT count(*) AS n_clean FROM d4),$fuzzyCount
             |c4 AS (SELECT count(*) AS n_train FROM tr)""".stripMargin
  }


  /** DuckDB replay of [[graft.ops.TimeSeries.rfmScores]] over `src`, CTE
    * names prefixed with `p` so the q258 transition oracle can run the
    * chain twice (once per time half) in one WITH block. Ends with the
    * `${p}seg` per-user (user_id, m_cents, scores, segment) relation. */
  private def rfmScoreSql(p: String, src: String): String = {
    def cut(dim: String): String =
      s"""${p}${dim}cut AS (SELECT
         |   min(CASE WHEN cum >= (20 * n + 99) // 100 THEN v END) AS c20,
         |   min(CASE WHEN cum >= (40 * n + 99) // 100 THEN v END) AS c40,
         |   min(CASE WHEN cum >= (60 * n + 99) // 100 THEN v END) AS c60,
         |   min(CASE WHEN cum >= (80 * n + 99) // 100 THEN v END) AS c80
         |  FROM ${p}${dim}cum, ${p}tot)""".stripMargin
    s"""${p}anchor AS (SELECT max(epoch_us(ts)) AS anchor_us FROM $src),
       |${p}per AS (SELECT user_id,
       |   CAST((a.anchor_us - max(epoch_us(ts))) // 86400000000 AS BIGINT) AS r,
       |   CAST(count(*) AS BIGINT) AS f,
       |   CAST(round(sum(value) * 100, 0) AS BIGINT) AS m_cents,
       |   CAST(round(sum(value) * 100, 0) AS BIGINT) // 1000 AS m_bin
       |  FROM $src, ${p}anchor a GROUP BY user_id, a.anchor_us),
       |${p}tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ${p}per),
       |${p}rcum AS (SELECT r AS v, sum(count(*)) OVER (ORDER BY r) AS cum
       |  FROM ${p}per GROUP BY r),
       |${cut("r")},
       |${p}fcum AS (SELECT f AS v, sum(count(*)) OVER (ORDER BY f) AS cum
       |  FROM ${p}per GROUP BY f),
       |${cut("f")},
       |${p}mcum AS (SELECT m_bin AS v, sum(count(*)) OVER (ORDER BY m_bin) AS cum
       |  FROM ${p}per GROUP BY m_bin),
       |${cut("m")},
       |${p}seg AS (SELECT user_id, m_cents, r_score, f_score, m_score,
       |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
       |       WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
       |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
       |       WHEN r_score <= 2 AND f_score <= 2 THEN 'dormant'
       |       ELSE 'core' END AS segment
       | FROM (SELECT user_id, m_cents,
       |    CAST(5 - ((r > rc.c20)::INT + (r > rc.c40)::INT
       |      + (r > rc.c60)::INT + (r > rc.c80)::INT) AS BIGINT) AS r_score,
       |    CAST(1 + ((f > fc.c20)::INT + (f > fc.c40)::INT
       |      + (f > fc.c60)::INT + (f > fc.c80)::INT) AS BIGINT) AS f_score,
       |    CAST(1 + ((m_bin > mc.c20)::INT + (m_bin > mc.c40)::INT
       |      + (m_bin > mc.c60)::INT + (m_bin > mc.c80)::INT) AS BIGINT) AS m_score
       |   FROM ${p}per, ${p}rcut rc, ${p}fcut fc, ${p}mcut mc))""".stripMargin
  }

  /** q35's banded-pair replay + the bench/train boundary filter and the
    * per-dropped-doc rollup (every 10th doc plays the benchmark side) —
    * shared verbatim by q249 (batch) and q264 (the streaming plan's batch
    * twin): the two engines must agree on the SAME relation. */
  private val fuzzyDecontOracleSql: String = minhashPairCtes() + """,
             |fl AS (SELECT doc_id, (doc_id % 10 = 0) AS is_bench FROM documents),
             |cp AS (SELECT
             |   CASE WHEN fa.is_bench THEN m.b ELSE m.a END AS drop_id,
             |   CASE WHEN fa.is_bench THEN m.a ELSE m.b END AS bench_id,
             |   CAST(round(m.jaccard * 1000000) AS BIGINT) AS j_u
             |  FROM mh m
             |  JOIN fl fa ON fa.doc_id = m.a
             |  JOIN fl fb ON fb.doc_id = m.b
             |  WHERE fa.is_bench <> fb.is_bench)
             |SELECT drop_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
             |  max(j_u) AS max_j_u, min(bench_id) AS bench_id_min
             |FROM cp GROUP BY 1""".stripMargin

  private val ext35Qs = Seq(
    Q("q249_fuzzy_decontaminate",
      (s, d) => graft.ops.Dedup.fuzzyDecontaminate(T(s, d, "documents"),
        col("doc_id") % 10 === 0),
      Some(fuzzyDecontOracleSql)),

    Q("q250_cohens_kappa",
      (s, d) => graft.ops.Classifier.cohensKappa(T(s, d, "documents")),
      // q236's scoring replay rolled to confusion marginals; µ-share
      // products so nothing forms n² (the op's scale contract)
      Some(nbScoreOracleWith + """,
             |scp AS (SELECT doc_id, CAST(label AS BIGINT) AS w,
             |   CAST(CASE WHEN sum_llr_u + p.prior_u > 0 THEN 1 ELSE 0 END AS BIGINT) AS p
             |  FROM scw, pri p),
             |cells AS (SELECT w, p, CAST(count(*) AS BIGINT) AS n FROM scp GROUP BY 1, 2),
             |rmm AS (SELECT w AS cls, CAST(sum(n) AS BIGINT) AS rm FROM cells GROUP BY 1),
             |cmm AS (SELECT p AS cls, CAST(sum(n) AS BIGINT) AS cm FROM cells GROUP BY 1),
             |tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             |   CAST(sum(CASE WHEN w = p THEN n ELSE 0 END) AS BIGINT) AS n_agree
             |  FROM cells),
             |pe AS (SELECT CAST(sum(
             |    (coalesce(rm, 0) * 1000000 // n_docs)
             |    * (coalesce(cm, 0) * 1000000 // n_docs) // 1000000) AS BIGINT) AS pe_u
             |  FROM rmm FULL OUTER JOIN cmm USING (cls), tt)
             |SELECT t.n_docs, t.n_agree,
             |  CAST(t.n_agree * 1000000 // t.n_docs AS BIGINT) AS po_u, pe.pe_u,
             |  CAST(greatest(t.n_agree * 1000000 // t.n_docs - pe.pe_u + 1000000 - pe.pe_u, 0)
             |    * 1000000 // greatest(1000000 - pe.pe_u, 1) AS BIGINT) AS kappa_p1_u
             |FROM tt t, pe""".stripMargin)),

    Q("q251_robust_outliers",
      (s, d) => graft.ops.QualityAudit.robustOutliers(T(s, d, "documents"),
        col("n_chars"), col("source")),
      Some("""WITH v AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v FROM documents),
             |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
             |h AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
             |c AS (SELECT grp, v, sum(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum FROM h),
             |med AS (SELECT c.grp, min(c.v) AS med FROM c JOIN tot USING (grp)
             |  WHERE c.cum >= (tot.n + 1) // 2 GROUP BY 1),
             |dev AS (SELECT v.grp, v.v, abs(v.v - med.med) AS d FROM v JOIN med USING (grp)),
             |dh AS (SELECT grp, d, CAST(count(*) AS BIGINT) AS cnt FROM dev GROUP BY 1, 2),
             |dc AS (SELECT grp, d, sum(cnt) OVER (PARTITION BY grp ORDER BY d) AS cum FROM dh),
             |mad AS (SELECT dc.grp, min(dc.d) AS mad FROM dc JOIN tot USING (grp)
             |  WHERE dc.cum >= (tot.n + 1) // 2 GROUP BY 1)
             |SELECT dev.grp, CAST(count(*) AS BIGINT) AS n,
             |  min(med.med) AS med, min(mad.mad) AS mad,
             |  CAST(sum(CASE WHEN dev.d > 4 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  CAST(sum(CASE WHEN dev.d > 4 * mad.mad THEN 1 ELSE 0 END) * 1000000
             |    // count(*) AS BIGINT) AS outlier_share_u
             |FROM dev JOIN med USING (grp) JOIN mad USING (grp)
             |GROUP BY 1""".stripMargin)),

    Q("q252_hll_intersect",
      (s, d) => {
        // HLL set-INTERSECTION estimate by inclusion–exclusion over q123's
        // register construction — the cross-corpus overlap gauge that needs
        // no join of the two corpora (at 100 TB the two register sets are
        // KB-sized artifacts; the exact-join column here is the audit).
        // Unlike q123's floating harmonic sum, Z is accumulated as EXACT
        // integers (Σ 2^(52-ρ) ≤ 512·2⁵² < 2⁶³), so the only double math is
        // one final division — engine-identical by IEEE.
        val li = T(s, d, "lineitem").filter(col("l_returnflag").isin("A", "R"))
        val th = conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
          .cast("long")
        // materialize the ≤1024-row register relation ONCE: perSide and the
        // merged-union rollup otherwise each re-embed the corpus md5 scan
        // (measured 31 s → ~8 s at sf1; the scan runs once, as a real
        // sketch build would)
        val reg = FreshCheckpoint(li.select(col("l_returnflag"), th.as("th"))
          .select(col("l_returnflag"), col("th").bitwiseAND(lit(511L)).as("bucket"),
            shiftright(col("th"), 9).as("rem"))
          .withColumn("rho",
            when(col("rem") === 0, lit(52L)).otherwise(lit(52L) - length(bin(col("rem")))))
          .groupBy(col("l_returnflag"), col("bucket")).agg(max(col("rho")).as("m")))
        val estCol: Column =
          lit(hllAlphaNum512) /
            (col("z") + (lit(512L) - col("np")) * lit(1L << 52)).cast("double")
        val perSide = reg.groupBy(col("l_returnflag"))
          .agg(sum(expr("shiftleft(1L, cast(52 - m AS int))")).as("z"),
            count(lit(1)).as("np"))
        val ea = perSide.filter(col("l_returnflag") === "A")
          .select(estCol.as("ea"))
        val er = perSide.filter(col("l_returnflag") === "R")
          .select(estCol.as("er"))
        val eu = reg.groupBy(col("bucket")).agg(max(col("m")).as("m"))
          .agg(sum(expr("shiftleft(1L, cast(52 - m AS int))")).as("z"),
            count(lit(1)).as("np"))
          .select(estCol.as("eu"))
        val ex = li.filter(col("l_returnflag") === "A")
          .select(col("l_orderkey")).distinct()
          .join(li.filter(col("l_returnflag") === "R")
            .select(col("l_orderkey")).distinct(), Seq("l_orderkey"))
          .agg(count(lit(1)).as("n_exact_inter"))
        ex.crossJoin(broadcast(ea)).crossJoin(broadcast(er)).crossJoin(broadcast(eu))
          .select(col("n_exact_inter"),
            round(col("ea"), 4).as("est_a"), round(col("er"), 4).as("est_r"),
            round(col("eu"), 4).as("est_union"),
            round(col("ea") + col("er") - col("eu"), 4).as("est_inter"))
      },
      Some(s"""WITH li AS (SELECT * FROM lineitem WHERE l_returnflag IN ('A', 'R')),
              |th AS (SELECT l_returnflag,
              |  ${duckH60("CAST(l_orderkey AS VARCHAR)")} AS th
              |  FROM li),
              |reg AS (SELECT l_returnflag, th & 511 AS bucket,
              |  CASE WHEN (th >> 9) = 0 THEN 52 ELSE 52 - length(bin(th >> 9)) END AS rho
              | FROM th),
              |mx AS (SELECT l_returnflag, bucket, max(rho) AS m FROM reg GROUP BY 1, 2),
              |ps AS (SELECT l_returnflag,
              |   CAST(sum(1::BIGINT << CAST(52 - m AS INT)) AS BIGINT) AS z,
              |   CAST(count(*) AS BIGINT) AS np
              |  FROM mx GROUP BY 1),
              |mg AS (SELECT bucket, max(m) AS m FROM mx GROUP BY 1),
              |pu AS (SELECT CAST(sum(1::BIGINT << CAST(52 - m AS INT)) AS BIGINT) AS z,
              |   CAST(count(*) AS BIGINT) AS np FROM mg),
              |ea AS (SELECT $hllAlphaNum512 / CAST(z + (512 - np) * (1::BIGINT << 52) AS DOUBLE) AS e
              |  FROM ps WHERE l_returnflag = 'A'),
              |er AS (SELECT $hllAlphaNum512 / CAST(z + (512 - np) * (1::BIGINT << 52) AS DOUBLE) AS e
              |  FROM ps WHERE l_returnflag = 'R'),
              |eu AS (SELECT $hllAlphaNum512 / CAST(z + (512 - np) * (1::BIGINT << 52) AS DOUBLE) AS e
              |  FROM pu),
              |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_inter FROM
              |  (SELECT DISTINCT l_orderkey FROM li WHERE l_returnflag = 'A') a
              |  JOIN (SELECT DISTINCT l_orderkey FROM li WHERE l_returnflag = 'R') b
              |   USING (l_orderkey))
              |SELECT ex.n_exact_inter, round(ea.e, 4) AS est_a, round(er.e, 4) AS est_r,
              |  round(eu.e, 4) AS est_union, round(ea.e + er.e - eu.e, 4) AS est_inter
              |FROM ex, ea, er, eu""".stripMargin)),

    Q("q253_benford_audit",
      (s, d) => graft.ops.QualityAudit.benford(T(s, d, "lineitem"),
        col("l_extendedprice")),
      Some("""WITH dg AS (SELECT substring(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit
             |  FROM lineitem WHERE CAST(l_extendedprice AS DOUBLE) >= 1.0
             |    AND CAST(l_extendedprice AS DOUBLE) < 9.2e18),
             |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY 1),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM dg),
             |e AS (SELECT * FROM (VALUES ('1', 301029), ('2', 176091), ('3', 124938),
             |  ('4', 96910), ('5', 79181), ('6', 66946), ('7', 57991),
             |  ('8', 51152), ('9', 45757)) v(digit, benford_u))
             |SELECT c.digit, c.n, CAST(c.n * 1000000 // t.tot AS BIGINT) AS share_u,
             |  CAST(e.benford_u AS BIGINT) AS benford_u,
             |  CAST(abs(c.n * 1000000 // t.tot - e.benford_u) AS BIGINT) AS dev_u
             |FROM c JOIN e USING (digit), t""".stripMargin)),

    Q("q254_isotropy_audit",
      (s, d) => graft.ops.Decomposition.isotropyAudit(T(s, d, "embeddings")),
      Some("""WITH iv AS (SELECT label,
             |   list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iemb
             |  FROM embeddings),
             |mu AS (SELECT label, d, CAST(floor(sum(x)::DOUBLE / count(*)) AS BIGINT) AS mu
             |  FROM (SELECT label, unnest(iemb) AS x, generate_subscripts(iemb, 1) AS d FROM iv)
             |  GROUP BY 1, 2),
             |m2 AS (SELECT label, CAST(sum(mu * mu) AS BIGINT) AS m2_u2 FROM mu GROUP BY 1),
             |nr AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
             |   CAST(sum(rn_m) AS BIGINT) AS srn
             |  FROM (SELECT label,
             |     list_sum(list_transform(iemb, x -> x * x)) // 1000000 AS rn_m FROM iv)
             |  GROUP BY 1)
             |SELECT nr.label, nr.n_vectors, m2.m2_u2,
             |  CAST(nr.srn // nr.n_vectors AS BIGINT) AS mean_norm2_m,
             |  CAST(m2.m2_u2 // greatest(nr.srn // nr.n_vectors, 1) AS BIGINT) AS iso_u
             |FROM nr JOIN m2 USING (label)""".stripMargin)),

    Q("q255_ks_drift",
      (s, d) => graft.ops.QualityAudit.ksDrift(T(s, d, "documents"),
        col("n_chars"), col("source")),
      Some("""WITH v AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v FROM documents),
             |gh AS (SELECT v, CAST(count(*) AS BIGINT) AS gcnt FROM v GROUP BY 1),
             |grps AS (SELECT DISTINCT grp FROM v),
             |sh AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS scnt FROM v GROUP BY 1, 2),
             |grid AS (SELECT g.grp, h.v, h.gcnt, coalesce(s.scnt, 0) AS scnt
             |  FROM gh h CROSS JOIN grps g
             |  LEFT JOIN sh s ON s.grp = g.grp AND s.v = h.v),
             |cums AS (SELECT grp, v,
             |   CAST(sum(scnt) OVER w AS BIGINT) AS scum,
             |   CAST(sum(gcnt) OVER w AS BIGINT) AS gcum
             |  FROM grid WINDOW w AS (PARTITION BY grp ORDER BY v)),
             |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_grp FROM v GROUP BY 1),
             |gt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
             |   CAST(min(v) AS BIGINT) AS v_min FROM v),
             |keys AS (SELECT c.grp, t.n_grp, gt.n_tot - t.n_grp AS n_rest,
             |   gt.v_min,
             |   abs(c.scum * 1000000 // t.n_grp
             |     - (c.gcum - c.scum) * 1000000 // greatest(gt.n_tot - t.n_grp, 1))
             |     * 100000000 + (c.v - gt.v_min) AS key
             |  FROM cums c JOIN tot t USING (grp), gt)
             |SELECT grp, n_grp, CAST(n_rest AS BIGINT) AS n_rest,
             |  CAST(max(key) // 100000000 AS BIGINT) AS ks_u,
             |  CAST(max(key) % 100000000 + v_min AS BIGINT) AS ks_at_v
             |FROM keys GROUP BY 1, 2, 3, v_min""".stripMargin)),

    Q("q256_rfm_segments",
      (s, d) => graft.ops.TimeSeries.rfmSegments(T(s, d, "events")),
      // per-user RFM stats → per-dimension quintile cuts off value-domain
      // running counts → scored cells with behavioral labels (shared
      // per-user chain: rfmScoreSql, also the base of the q258 oracle)
      Some("WITH " + rfmScoreSql("", "events") + """
             |SELECT r_score, f_score, m_score, segment,
             |  CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(sum(m_cents) // count(*) AS BIGINT) AS mean_m_cents
             |FROM seg GROUP BY 1, 2, 3, 4""".stripMargin)),

    Q("q258_rfm_transitions",
      (s, d) => graft.ops.TimeSeries.rfmTransitions(T(s, d, "events")),
      // time-range midpoint split → the q256 per-user chain per half →
      // user-keyed transition join, monetary movement as a signed SUM
      Some("WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m_us FROM events),\n"
        + "ha AS (SELECT e.* FROM events e, mid WHERE epoch_us(ts) < m_us),\n"
        + "hb AS (SELECT e.* FROM events e, mid WHERE epoch_us(ts) >= m_us),\n"
        + rfmScoreSql("a", "ha") + ",\n" + rfmScoreSql("b", "hb") + """
             |SELECT a.segment AS segment_from, b.segment AS segment_to,
             |  CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(sum(b.m_cents - a.m_cents) AS BIGINT) AS sum_m_delta_cents
             |FROM aseg a JOIN bseg b USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    Q("q259_basket_lift",
      (s, d) => graft.ops.Association.basketLift(T(s, d, "lineitem"),
        col("l_orderkey"), col("l_partkey")),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             |sup AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM li GROUP BY 1),
             |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM li),
             |pr AS (SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS n_both
             |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT pr.a, pr.b, pr.n_both, sa.s AS s_a, sb.s AS s_b,
             |  CAST(pr.n_both * 1000000 // sa.s AS BIGINT) AS conf_ab_u,
             |  CAST(pr.n_both * 1000000 // sb.s AS BIGINT) AS conf_ba_u,
             |  CAST((pr.n_both * 1000000 // sa.s) * nb.n // sb.s AS BIGINT) AS lift_u
             |FROM pr JOIN sup sa ON sa.p = pr.a
             |JOIN sup sb ON sb.p = pr.b, nb""".stripMargin)),

    Q("q260_cusum_rate_shift",
      (s, d) => graft.ops.TimeSeries.cusum(T(s, d, "events")),
      // dense 5-min grid per type → prefix-sum + running-min windows
      // (the closed form of the max(0,·) CUSUM reset) → per-type rollup
      Some("""WITH obs AS (SELECT event_type,
             |   CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS bucket,
             |   CAST(count(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
             |  FROM obs GROUP BY 1),
             |grid AS (SELECT event_type,
             |   CAST(unnest(generate_series(lo, hi, 300)) AS BIGINT) AS bucket FROM g),
             |dense AS (SELECT gr.event_type, gr.bucket, coalesce(o.x, 0) AS x
             |  FROM grid gr LEFT JOIN obs o
             |   ON o.event_type = gr.event_type AND o.bucket = gr.bucket),
             |mu AS (SELECT event_type,
             |   CAST(sum(x) * 1000000 // count(*) AS BIGINT) AS mu_u
             |  FROM dense GROUP BY 1),
             |ps AS (SELECT d.event_type, d.bucket, m.mu_u,
             |   CAST(sum(d.x * 1000000 - m.mu_u - m.mu_u // 4)
             |     OVER (PARTITION BY d.event_type ORDER BY d.bucket) AS BIGINT) AS p
             |  FROM dense d JOIN mu m USING (event_type)),
             |sc AS (SELECT event_type, bucket, mu_u,
             |   p - least(min(p) OVER (PARTITION BY event_type ORDER BY bucket), 0) AS s_u
             |  FROM ps)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
             |  CAST(max(mu_u) AS BIGINT) AS mu_u,
             |  CAST(max(s_u) AS BIGINT) AS max_s_u,
             |  CAST(sum(CASE WHEN s_u > 4 * mu_u THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
             |  min(CASE WHEN s_u > 4 * mu_u THEN bucket END) AS first_alarm_bucket
             |FROM sc GROUP BY 1""".stripMargin)),

    Q("q261_source_vocab_overlap",
      (s, d) => graft.ops.TextAnalysis.sourceVocabOverlap(T(s, d, "documents")),
      Some("""WITH st AS (SELECT DISTINCT source, tok FROM
             |  (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |     x -> x <> '')) AS tok FROM documents)),
             |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS s FROM st GROUP BY 1),
             |iv AS (SELECT x.source AS source_x, y.source AS source_y,
             |   CAST(count(*) AS BIGINT) AS n_shared
             |  FROM st x JOIN st y ON x.tok = y.tok AND x.source < y.source
             |  GROUP BY 1, 2)
             |SELECT i.source_x, i.source_y, i.n_shared, a.s AS sz_x, b.s AS sz_y,
             |  CAST(i.n_shared * 1000000 // (a.s + b.s - i.n_shared) AS BIGINT) AS jaccard_u,
             |  CAST(i.n_shared * 1000000 // least(a.s, b.s) AS BIGINT) AS containment_u
             |FROM iv i JOIN sz a ON a.source = i.source_x
             |JOIN sz b ON b.source = i.source_y""".stripMargin)),

    Q("q257_fuzzy_pretrain_pipeline",
      (s, d) => graft.ops.Pipeline.pretrainCorpus(T(s, d, "documents"),
        fuzzyCut = Some(0.8)),
      // q197's funnel + the near-dup bench screen between stages 4 and 5,
      // re-deriving NOTHING: the screen filters the stage-3 pair relation
      Some(pretrainOracle(fuzzy = true))))

  // ---------------------------------------------------------------- round-10 batch 1
  // BPE corpus ENCODING (apply the q211-trained merges) + sequence packing
  // on real tokenizer lengths — the train → encode → pack completion.
  private val ext36Qs = Seq(
    Q("q262_bpe_encode",
      (s, d) => graft.ops.TextAnalysis.bpeEncode(T(s, d, "documents")),
      // q211's unrolled 3-round merge replay, applied on the ENCODE side:
      // corpus (doc, word) counts join the trained v3 vocabulary
      Some(bpeVocabSql + """,
             |dw AS (SELECT doc_id, w, count(*) AS occ FROM (
             |   SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |     x -> x <> '')) AS w FROM documents) GROUP BY 1, 2),
             |je AS (SELECT dw.doc_id, dw.occ, len(v3.syms) AS ns, length(dw.w) AS lw
             |  FROM dw JOIN v3 ON v3.w = dw.w),
             |enc AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_words,
             |   CAST(sum(occ * ns) AS BIGINT) AS n_bpe_tokens,
             |   CAST(sum(occ * lw) AS BIGINT) AS n_chars FROM je GROUP BY 1)
             |SELECT doc_id, n_words, n_bpe_tokens, n_chars,
             |  CAST(n_bpe_tokens * 1000000 // n_words AS BIGINT) AS fertility_u
             |FROM enc""".stripMargin)),

    Q("q263_bpe_packing",
      (s, d) => {
        // pack on ENCODED lengths: the q114 layout where the budget means
        // model-context tokens (bpeEncode's n_bpe_tokens), not words
        val docs = T(s, d, "documents")
        val enc = graft.ops.TextAnalysis.bpeEncode(docs)
        graft.ops.TrainingData.sequencePackingBy(
          docs.select(col("doc_id"), col("lang"))
            .join(enc.select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id")),
          col("n_bpe_tokens"), budget = 8192, partCol = "lang",
          shardDocs = 128)
      },
      // the q262 encode chain feeding q114's offset-window packing replay
      Some(bpeVocabSql + """,
             |dw AS (SELECT doc_id, w, count(*) AS occ FROM (
             |   SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |     x -> x <> '')) AS w FROM documents) GROUP BY 1, 2),
             |je AS (SELECT dw.doc_id, dw.occ, len(v3.syms) AS ns
             |  FROM dw JOIN v3 ON v3.w = dw.w),
             |enc AS (SELECT doc_id, CAST(sum(occ * ns) AS BIGINT) AS n_bpe_tokens
             |  FROM je GROUP BY 1),
             |t AS (SELECT d.lang, CAST(floor(d.doc_id / 128) AS BIGINT) AS shard,
             |   d.doc_id, e.n_bpe_tokens AS n_tokens
             |  FROM documents d JOIN enc e ON e.doc_id = d.doc_id),
             |c AS (SELECT lang, shard, doc_id, n_tokens,
             |  coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre FROM t)
             |SELECT lang, shard, CAST(floor(pre / 8192) AS BIGINT) AS bin,
             | count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             | min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM c GROUP BY 1, 2, 3""".stripMargin)),

    Q("q264_stream_decontaminate_twin",
      (s, d) => {
        // the STREAMING ingest-decontamination plan evaluated in batch mode
        // (stream-static broadcast band join + row-local exactly-once +
        // native verify), rolled up to q249's per-dropped-doc relation —
        // proving the stream and batch paths compute the SAME relation
        // against the SAME oracle SQL
        val docs = T(s, d, "documents")
        val isBench = col("doc_id") % 10 === 0
        graft.streaming.DecontaminateStream.fuzzyDecontaminateStream(
            s, docs.filter(!isBench), docs.filter(isBench))
          .groupBy(col("drop_id"))
          .agg(count(lit(1)).as("n_bench_hits"), max(col("j_u")).as("max_j_u"),
            min(col("bench_id")).as("bench_id_min"))
      },
      Some(fuzzyDecontOracleSql)),

    Q("q265_dataset_release",
      (s, d) => graft.ops.Pipeline.datasetRelease(T(s, d, "documents")),
      // the q197 stage-chain CTEs + the release composition: card over the
      // released train slice (incl. a cascade RE-audit of the deduped
      // text), manifest totals with the global XOR digest, and the q210
      // audit totals against the run's OWN split
      Some(pretrainCtes(fuzzy = false) + s""",
             |trs AS (SELECT t.doc_id, t.lang, t.text, d.source
             |  FROM tr t JOIN documents d ON d.doc_id = t.doc_id),
             |cb AS (SELECT CAST(count(*) AS BIGINT) AS card_docs,
             |   CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS card_tokens,
             |   CAST(sum(length(text)) AS BIGINT) AS card_chars,
             |   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM trs),
             |ptr AS (SELECT m.a, m.b FROM mh m
             |  JOIN tr x ON x.doc_id = m.a JOIN tr y ON y.doc_id = m.b),
             |cdp AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs FROM ptr),
             |cdd AS (SELECT CAST(count(DISTINCT dd) AS BIGINT) AS n_dup_docs
             |  FROM (SELECT a AS dd FROM ptr UNION ALL SELECT b AS dd FROM ptr)),
             |rtoks AS (SELECT doc_id,
             |   unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
             |  FROM tr),
             |rrep AS (SELECT doc_id,
             |   floor((1.0 - count(DISTINCT tok) / count(*)) * 1000000) / 1000000 AS rep_ratio
             |  FROM rtoks GROUP BY 1),
             |rm AS (SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
             |  round(length(text)::DOUBLE
             |    / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len
             | FROM tr),
             |rrej AS (SELECT CAST(count(*) AS BIGINT) AS card_rejected
             |  FROM tr t JOIN rm ON rm.doc_id = t.doc_id
             |  LEFT JOIN rrep ON rrep.doc_id = t.doc_id
             |  WHERE (rm.n_tokens < 20) OR (rm.stopword_ratio < 0.02)
             |   OR coalesce(rrep.rep_ratio > 0.65, FALSE)
             |   OR (rm.mean_word_len > 5.9)),
             |mfb AS (SELECT lang, shard, CAST(floor(pre / 2048) AS BIGINT) AS bin,
             |   count(*) AS nd, sum(n_tokens) AS st,
             |   bit_xor(${duckH60("'m:' || CAST(doc_id AS VARCHAR)")}) AS dgx
             |  FROM pcc GROUP BY 1, 2, 3),
             |mft AS (SELECT CAST(count(*) AS BIGINT) AS n_manifest_bins,
             |   CAST(coalesce(sum(nd), 0) AS BIGINT) AS manifest_docs,
             |   CAST(coalesce(sum(st), 0) AS BIGINT) AS manifest_tokens,
             |   CAST(coalesce(bit_xor(dgx), 0) AS BIGINT) AS manifest_digest
             |  FROM mfb),
             |ag AS (SELECT g.doc_id, g.gram FROM dg g
             |  JOIN d4 d ON d.doc_id = g.doc_id),
             |ar AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM ag GROUP BY 1)
             |  WHERE df <= 25),
             |agx AS (SELECT a.doc_id, a.gram, sp.split FROM ag a
             |  JOIN ar USING (gram) JOIN sp ON sp.doc_id = a.doc_id),
             |ax AS (SELECT x.split AS sa, y.split AS sb,
             |   x.doc_id AS da, y.doc_id AS db, x.gram AS gram
             |  FROM agx x JOIN agx y ON x.gram = y.gram AND x.split < y.split),
             |adp AS (SELECT CAST(count(*) AS BIGINT) AS leak_doc_pairs
             |  FROM (SELECT DISTINCT sa, sb, da, db FROM ax)),
             |asg AS (SELECT CAST(count(*) AS BIGINT) AS leak_shared_grams
             |  FROM (SELECT DISTINCT sa, sb, gram FROM ax)),
             |ast AS (SELECT CAST(count(*) AS BIGINT) AS leak_straddle
             |  FROM mh m JOIN sp x ON x.doc_id = m.a
             |  JOIN sp y ON y.doc_id = m.b WHERE x.split <> y.split)
             |SELECT CAST(c0.n_raw AS BIGINT) AS n_raw,
             |  CAST(c1.n_cascade AS BIGINT) AS n_cascade,
             |  CAST(c2.n_dedup AS BIGINT) AS n_dedup,
             |  CAST(c3.n_clean AS BIGINT) AS n_clean,
             |  CAST(c4.n_train AS BIGINT) AS n_train,
             |  cb.card_docs, cb.card_tokens, cb.card_chars, cb.n_sources,
             |  cb.n_langs, cdp.n_dup_pairs, cdd.n_dup_docs,
             |  rrej.card_rejected, mft.n_manifest_bins, mft.manifest_docs,
             |  mft.manifest_tokens, mft.manifest_digest, adp.leak_doc_pairs,
             |  asg.leak_shared_grams, ast.leak_straddle
             |FROM c0, c1, c2, c3, c4, cb, cdp, cdd, rrej, mft, adp, asg, ast""".stripMargin)),

    Q("q266_vocab_growth",
      (s, d) => graft.ops.TextAnalysis.vocabGrowth(T(s, d, "documents")),
      // first-occurrence buckets off a (tok → min doc) vocab agg; dense
      // bucket grid; cumulative windows over the report-sized grid only
      Some("""WITH tl AS (SELECT doc_id,
             |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |fb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_types
             |  FROM (SELECT tok, CAST(min(doc_id) // 100 AS BIGINT) AS bucket
             |        FROM tl GROUP BY tok) GROUP BY 1),
             |ms AS (SELECT CAST(doc_id // 100 AS BIGINT) AS bucket,
             |   CAST(count(*) AS BIGINT) AS n_tokens FROM tl GROUP BY 1),
             |nd AS (SELECT CAST(doc_id // 100 AS BIGINT) AS bucket,
             |   CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
             |grid AS (SELECT CAST(unnest(range((SELECT min(bucket) FROM nd),
             |   (SELECT max(bucket) FROM nd) + 1)) AS BIGINT) AS bucket),
             |j AS (SELECT g.bucket, coalesce(nd.n_docs, 0) AS n_docs,
             |   coalesce(ms.n_tokens, 0) AS n_tokens,
             |   coalesce(fb.n_new_types, 0) AS n_new_types
             |  FROM grid g LEFT JOIN nd USING (bucket)
             |  LEFT JOIN ms USING (bucket) LEFT JOIN fb USING (bucket)),
             |c AS (SELECT *, sum(n_tokens) OVER w AS cum_tokens,
             |   sum(n_new_types) OVER w AS cum_types
             |  FROM j WINDOW w AS (ORDER BY bucket))
             |SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(n_new_types AS BIGINT) AS n_new_types,
             |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
             |  CAST(cum_types AS BIGINT) AS cum_types,
             |  CAST(cum_types * 1000000 // greatest(cum_tokens, 1) AS BIGINT) AS ttr_u
             |FROM c""".stripMargin)),

    Q("q267_zipf_classes",
      (s, d) => graft.ops.TextAnalysis.zipfClasses(T(s, d, "documents")),
      // frequency-of-frequencies + running type count over the bounded
      // count domain — rank intervals without ranking any type
      Some("""WITH tl AS (SELECT
             |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tl GROUP BY 1),
             |fof AS (SELECT cnt, CAST(count(*) AS BIGINT) AS n_types FROM tc GROUP BY 1),
             |c AS (SELECT cnt, n_types,
             |   sum(n_types) OVER (ORDER BY cnt DESC) AS cum_ge FROM fof)
             |SELECT cnt, n_types, CAST(cum_ge - n_types + 1 AS BIGINT) AS rank_lo,
             |  CAST(cum_ge AS BIGINT) AS rank_hi
             |FROM c""".stripMargin)),

    Q("q268_bursty_tokens",
      (s, d) => graft.ops.TextAnalysis.burstyTokens(T(s, d, "documents")),
      Some("""WITH tl AS (SELECT source,
             |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             |  FROM documents),
             |ts AS (SELECT tok, source, CAST(count(*) AS BIGINT) AS cnt
             |  FROM tl GROUP BY 1, 2),
             |r AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS total,
             |   CAST(count(*) AS BIGINT) AS n_sources,
             |   CAST(max(cnt) AS BIGINT) AS top_source_cnt FROM ts GROUP BY 1)
             |SELECT tok, total, n_sources, top_source_cnt,
             |  CAST(top_source_cnt * 1000000 // total AS BIGINT) AS top_share_u
             |FROM r ORDER BY total DESC, tok LIMIT 100""".stripMargin)),

    Q("q269_length_quantiles",
      (s, d) => graft.ops.QualityAudit.lengthQuantiles(T(s, d, "documents"),
        col("n_chars"), col("source")),
      // the Quantiles ceil-rank replay: per-group value histogram, running
      // count, least v reaching ⌈p·n/100⌉ — plus plain min/max extremes
      Some("""WITH v AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v FROM documents),
             |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
             |h AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
             |c AS (SELECT grp, v, sum(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum FROM h),
             |q AS (SELECT c.grp,
             |   min(CASE WHEN cum >= (25 * n + 99) // 100 THEN v END) AS p25,
             |   min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END) AS p50,
             |   min(CASE WHEN cum >= (75 * n + 99) // 100 THEN v END) AS p75,
             |   min(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END) AS p95
             |  FROM c JOIN tot USING (grp) GROUP BY 1),
             |ext AS (SELECT grp, min(v) AS v_min, max(v) AS v_max FROM v GROUP BY 1)
             |SELECT q.grp, tot.n, ext.v_min, ext.v_max, q.p25, q.p50, q.p75, q.p95
             |FROM q JOIN tot USING (grp) JOIN ext USING (grp)""".stripMargin)),

    Q("q270_dup_by_quality",
      (s, d) => graft.ops.Dedup.dupByQuality(T(s, d, "documents")),
      // q35's banded-pair replay + q214's stopword-ratio bin + endpoint
      // flag rollup
      Some(minhashPairCtes() + """,
             |qm AS (SELECT doc_id,
             |  round((
             |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
             |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
             |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio
             | FROM documents),
             |bb AS (SELECT doc_id,
             |   CAST(least(9, CAST(floor(stopword_ratio * 10) AS BIGINT)) AS BIGINT) AS bin
             |  FROM qm),
             |dd AS (SELECT DISTINCT d AS doc_id
             |  FROM (SELECT a AS d FROM mh UNION ALL SELECT b AS d FROM mh))
             |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             |  CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
             |    // count(*) AS BIGINT) AS dup_share_u
             |FROM bb LEFT JOIN dd USING (doc_id) GROUP BY 1""".stripMargin)),

    Q("q271_vocab_delta",
      (s, d) => {
        // snapshot convention: the base crawl is the first 80% id-hash
        // slice; the current snapshot is the full corpus
        val docs = T(s, d, "documents")
        graft.ops.TextAnalysis.vocabDelta(
          docs.filter(col("doc_id") % 10 < 8), docs)
      },
      Some("""WITH bv AS (SELECT DISTINCT tok FROM (
             |   SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |     x -> x <> '')) AS tok FROM documents WHERE doc_id % 10 < 8)),
             |cv AS (SELECT DISTINCT source, tok FROM (
             |   SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |     x -> x <> '')) AS tok FROM documents)),
             |nn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_new_types
             |  FROM cv WHERE tok NOT IN (SELECT tok FROM bv) GROUP BY 1),
             |ct AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types
             |  FROM cv GROUP BY 1)
             |SELECT ct.source, ct.n_types,
             |  CAST(coalesce(nn.n_new_types, 0) AS BIGINT) AS n_new_types,
             |  CAST(coalesce(nn.n_new_types, 0) * 1000000 // ct.n_types AS BIGINT) AS new_share_u
             |FROM ct LEFT JOIN nn USING (source)""".stripMargin)),

    Q("q272_mmr_retrieval",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding"))
        graft.ops.Similarity.mmrTopK(emb, queries)
      },
      // q38's cosine pool replay + pool-pairwise sims + k−1 unrolled MMR
      // selection rounds (argmax of the undivided λ·rel − (1−λ)·maxsim
      // numerator, ties to the smallest vec_id)
      Some(mmrOracle(k = 5, poolSize = 16, lambdaU = 700000L))),

    Q("q273_normalized_dedup",
      (s, d) => {
        // the group relation rolled to an always-populated 1-row summary
        // (this corpus is dup-free at this normalization — the zero IS the
        // finding, reported as explicit zeros, the q210 spine discipline)
        val docs = T(s, d, "documents")
        val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " "))
        val base = docs.agg(count(lit(1)).as("n_docs"),
          sum(when(norm =!= col("text"), 1L).otherwise(0L)).as("n_changed"))
        val g = graft.ops.Dedup.normalizedDedup(docs)
          .agg(count(lit(1)).as("n_dup_groups"),
            coalesce(sum(col("n_docs")), lit(0L)).as("n_dup_docs"),
            coalesce(sum(when(col("n_exact_distinct") > 1, 1L)
              .otherwise(0L)), lit(0L)).as("n_norm_only_groups"))
        base.crossJoin(broadcast(g))
      },
      Some("""WITH n AS (SELECT doc_id, text,
             |   md5(trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
             |   trim(regexp_replace(regexp_replace(lower(text),
             |     '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
             |   md5(text) AS raw_hash
             |  FROM documents),
             |b AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(sum(CASE WHEN norm_text <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
             |  FROM n),
             |grp AS (SELECT norm_hash, count(*) AS gn,
             |   count(DISTINCT raw_hash) AS gd
             |  FROM n GROUP BY 1 HAVING count(*) >= 2),
             |g AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
             |   CAST(coalesce(sum(gn), 0) AS BIGINT) AS n_dup_docs,
             |   CAST(coalesce(sum(CASE WHEN gd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_norm_only_groups
             |  FROM grp)
             |SELECT b.n_docs, b.n_changed, g.n_dup_groups, g.n_dup_docs,
             |  g.n_norm_only_groups
             |FROM b, g""".stripMargin)))

  // ---------------------------------------------------------------- round-11 batch 1
  // Incremental dataset release: the Spark side runs the INCREMENTAL path
  // (persisted state from the old snapshot + delta-only processing); the
  // oracle computes the FULL recompute on the new snapshot — hash equality
  // IS the increment-equals-full theorem checked on real data.
  private val ext37Qs = Seq(
    Q("q274_incremental_release",
      (s, d) => {
        // deterministic snapshots of the corpus: the old snapshot misses
        // doc_id % 11 == 0 (added later) and carries draft texts for
        // % 13 == 0 (changed later); the new snapshot dropped % 17 == 0
        val docs = T(s, d, "documents")
        val oldSnap = docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v1")))
              .otherwise(col("text")).as("text"))
        val newSnap = docs.filter(col("doc_id") % 17 =!= 0)
          .select(col("doc_id"), col("text"))
        val st = graft.ops.Pipeline.releaseState(oldSnap)
        graft.ops.Pipeline.incrementalRelease(st, newSnap)
      },
      // full recompute: q35-style banded MinHash replay over the NEW
      // snapshot + first-occurrence-wins release + diff counts
      Some(releaseRecomputeSql(
        """SELECT doc_id,
          |   CASE WHEN doc_id % 13 = 0 THEN text || ' v1' ELSE text END AS text
          |  FROM documents WHERE doc_id % 11 <> 0""".stripMargin,
        "SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0"))),

    Q("q275_ivfpq_ann",
      (s, d) => graft.ops.Quantize.ivfPqTopK(T(s, d, "embeddings"),
        nCells = 8, nprobe = 2, m = 16, k = 32, rounds = 2, nQueries = 5,
        topK = 10, dim = 64),
      // the full IVFADC replay: coarse assignment → residuals → 2 Lloyd
      // rounds per subspace over RESIDUALS (init = vec_id ranks 9..40;
      // ranks 1..8 are the coarse centroids, whose residuals are zero) →
      // codes → nprobe=2 probes → per-(query, cell) residual ADC tables →
      // probed-cell scan; integer micro-unit distances throughout
      Some(ivfPqIndexCtes + ",\n" + ivfPqProbeCtes("", 2) + "\n" +
        "SELECT query_id, vec_id, adist, rank FROM ranked WHERE rank <= 10")),

    Q("q276_mmr_cell_pool",
      (s, d) => graft.ops.Similarity.mmrTopKCells(T(s, d, "embeddings")),
      // the q272 MMR tail on a CELL-BLOCKED pool: q176's hyperplane-cell
      // in-cell cosine chain feeds the pool, selection rounds unchanged
      Some(mmrCellOracle(k = 5, poolSize = 16, lambdaU = 700000L))),

    Q("q277_cusum_pinned",
      // the per-bucket batch twin of streaming/CusumStream (stream≡batch
      // in StreamingSpec): q260's closed form with the baseline rate
      // PINNED (µ = 0.01 events/bucket — a low-baseline alert channel on
      // this sparse grid), which is the only form a stream can maintain
      (s, d) => graft.ops.TimeSeries.cusumPinned(T(s, d, "events")),
      Some("""WITH obs AS (SELECT event_type,
             |   CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS bucket,
             |   CAST(count(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
             |  FROM obs GROUP BY 1),
             |grid AS (SELECT event_type,
             |   CAST(unnest(generate_series(lo, hi, 300)) AS BIGINT) AS bucket FROM g),
             |dense AS (SELECT gr.event_type, gr.bucket, coalesce(o.x, 0) AS x
             |  FROM grid gr LEFT JOIN obs o
             |   ON o.event_type = gr.event_type AND o.bucket = gr.bucket),
             |ps AS (SELECT event_type, bucket, x,
             |   CAST(sum(x * 1000000 - 12500)
             |     OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS p
             |  FROM dense)
             |SELECT event_type, bucket, CAST(x AS BIGINT) AS x,
             |  CAST(p - least(min(p) OVER (PARTITION BY event_type ORDER BY bucket), 0)
             |    AS BIGINT) AS s_u,
             |  (p - least(min(p) OVER (PARTITION BY event_type ORDER BY bucket), 0)) > 40000
             |    AS alarm
             |FROM ps""".stripMargin)),

    Q("q278_dp_histogram",
      // the audited-then-EMIT step of the privacy family: the q221 class
      // histogram released under the two-sided-geometric mechanism at
      // eps = ln 2, noise md5-derived per class key (deterministic for
      // testability — the oracle replays it; production flips to real
      // entropy, README), with the epsilon ledger riding every row
      (s, d) => graft.ops.Privacy.dpHistogram(T(s, d, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_kb"))),
      Some(s"""WITH cls AS (SELECT c_nationkey, c_mktsegment,
              |   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
              |   CAST(count(*) AS BIGINT) AS n
              |  FROM customer GROUP BY 1, 2, 3),
              |ky AS (SELECT *, 'dp:' || coalesce(CAST(c_nationkey AS VARCHAR), 'null')
              |   || ':' || coalesce(c_mktsegment, 'null')
              |   || ':' || coalesce(CAST(bal_kb AS VARCHAR), 'null') AS key FROM cls),
              |uu AS (SELECT *, ${duckH60("key")} % 1000000 AS u FROM ky)
              |SELECT c_nationkey, c_mktsegment, bal_kb,
              |  CAST(greatest(0, n + ${dpNoiseSql("u", 8)}) AS BIGINT) AS n_noisy,
              |  CAST(693147 AS BIGINT) AS epsilon_u,
              |  CAST(1 AS BIGINT) AS sensitivity,
              |  CAST(8 AS BIGINT) AS noise_bound
              |FROM uu""".stripMargin)),

    Q("q279_pair_integrity",
      // caption<->image contamination: q199's banded perceptual pairs ×
      // q35's verified MinHash caption pairs over the SAME paired rows;
      // the disagreement sets are the integrity flags
      (s, d) => {
        val docs = T(s, d, "documents")
        graft.ops.Multimodal.pairIntegrityAudit(
          graft.ops.Multimodal.ingest(docs),
          docs.select(col("doc_id").as("media_id"),
            col("text").as("caption")))
      },
      Some("WITH " + pairModalityCtes + "\n" +
        """             |SELECT i.a, i.b, 'both' AS kind, i.hamming, c.jac_u
             |FROM ipairs i JOIN cpairs c ON c.a = i.a AND c.b = i.b
             |UNION ALL
             |SELECT i.a, i.b, 'img_only' AS kind, i.hamming,
             |  CAST(NULL AS BIGINT) AS jac_u
             |FROM ipairs i LEFT JOIN cpairs c ON c.a = i.a AND c.b = i.b
             |WHERE c.a IS NULL
             |UNION ALL
             |SELECT c.a, c.b, 'cap_only' AS kind,
             |  CAST(NULL AS BIGINT) AS hamming, c.jac_u
             |FROM cpairs c LEFT JOIN ipairs i ON i.a = c.a AND i.b = c.b
             |WHERE i.a IS NULL""".stripMargin)),

    Q("q280_duplicated_extents",
      // q151's span relation merged into maximal extents: gaps-and-islands
      // (island key = pos − stride·row_number) over the strided duplicate
      // positions — the exact char ranges an exact-substring dedup would cut
      (s, d) => graft.ops.Dedup.duplicatedExtents(T(s, d, "documents"),
        64, 16),
      Some("WITH " + extentCtes + "\n" +
        "SELECT * FROM ext")))

  /** The q278 noise CASE chain — generated from the SAME Scala threshold
    * constants the engine embeds, so neither engine evaluates exp/log. */
  private def dpNoiseSql(u: String, maxNoise: Int): String = {
    val cases = graft.ops.Privacy.geometricThresholds(maxNoise).init
      .map { case (t, z) => s"WHEN $u < $t THEN ($z)" }.mkString(" ")
    s"CASE $cases ELSE $maxNoise END"
  }

  /** The q272 unrolled MMR replay: exact brute-force pool + shared tail. */
  private def mmrOracle(k: Int, poolSize: Int, lambdaU: Long): String =
    s"""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
       |   generate_subscripts(embedding, 1) AS i FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, i FROM f WHERE vec_id < 3),
       |dots AS (SELECT q.query_id, f.vec_id, sum(CAST(q.qv AS DOUBLE) * f.v) AS dp
       |  FROM q JOIN f ON q.i = f.i WHERE f.vec_id <> q.query_id GROUP BY 1, 2),
       |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
       |cos AS (SELECT d.query_id, d.vec_id,
       |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
       |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
       |  JOIN norms nc ON nc.vec_id = d.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY cos DESC, vec_id) AS rank FROM cos),
       |pool AS MATERIALIZED (SELECT query_id, vec_id,
       |   CAST(round(cos * 1000000) AS BIGINT) AS rel_u
       |  FROM ranked WHERE rank <= $poolSize)""".stripMargin +
      mmrTail(k, lambdaU)

  /** The q276 cell-blocked MMR replay: hyperplane-cell pool (the q176
    * in-cell cosine chain, queries vec_id < 3) + the same tail. */
  private def mmrCellOracle(k: Int, poolSize: Int, lambdaU: Long): String =
    hplaneCellStages(recursive = false) +
      s""",
       |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
       |pr AS (SELECT x.vec_id AS query_id, y.vec_id AS vec_id
       |  FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id <> y.vec_id
       |  WHERE x.vec_id < 3),
       |dots AS (SELECT pr.query_id, pr.vec_id, sum(CAST(q.v AS DOUBLE) * c.v) AS dp
       |  FROM pr JOIN f q ON q.vec_id = pr.query_id
       |  JOIN f c ON c.vec_id = pr.vec_id AND c.i = q.i GROUP BY 1, 2),
       |cos AS (SELECT d.query_id, d.vec_id,
       |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
       |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
       |  JOIN norms nc ON nc.vec_id = d.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY cos DESC, vec_id) AS rank FROM cos),
       |pool AS MATERIALIZED (SELECT query_id, vec_id,
       |   CAST(round(cos * 1000000) AS BIGINT) AS rel_u
       |  FROM ranked WHERE rank <= $poolSize)""".stripMargin +
      mmrTail(k, lambdaU)

  /** Pool-independent MMR tail (pairwise pool sims + unrolled selection
    * rounds) — expects CTEs `f`, `norms`, `pool` upstream. */
  private def mmrTail(k: Int, lambdaU: Long): String = {
    val il = 1000000L - lambdaU
    val rounds = (2 to k).map { r =>
      s"""m$r AS (SELECT p.query_id, p.vec_id, p.rel_u, max(ps.sim_u) AS maxsim_u
         |  FROM pool p
         |  JOIN s${r - 1} s ON s.query_id = p.query_id
         |  JOIN psim ps ON ps.query_id = p.query_id AND ps.a = p.vec_id
         |   AND ps.b = s.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} x
         |    WHERE x.query_id = p.query_id AND x.vec_id = p.vec_id)
         |  GROUP BY 1, 2, 3),
         |p$r AS (SELECT query_id, vec_id, rel_u,
         |   CAST($lambdaU * rel_u - $il * maxsim_u AS BIGINT) AS mmr_num_u,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY ($lambdaU * rel_u - $il * maxsim_u) DESC, vec_id) AS rk
         |  FROM m$r),
         |s$r AS (SELECT * FROM s${r - 1} UNION ALL
         |  SELECT query_id, CAST($r AS BIGINT) AS pick, vec_id, rel_u, mmr_num_u
         |  FROM p$r WHERE rk = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s""",
       |pp AS (SELECT pa.query_id, pa.vec_id AS a, pb.vec_id AS b
       |  FROM pool pa JOIN pool pb ON pb.query_id = pa.query_id
       |   AND pb.vec_id <> pa.vec_id),
       |pd AS (SELECT pp.query_id, pp.a, pp.b,
       |   sum(CAST(fa.v AS DOUBLE) * fb.v) AS dp
       |  FROM pp JOIN f fa ON fa.vec_id = pp.a
       |  JOIN f fb ON fb.vec_id = pp.b AND fb.i = fa.i
       |  GROUP BY 1, 2, 3),
       |psim AS MATERIALIZED (SELECT pd.query_id, pd.a, pd.b,
       |   CAST(round(round(pd.dp / (na.nrm * nb.nrm), 6) * 1000000) AS BIGINT) AS sim_u
       |  FROM pd JOIN norms na ON na.vec_id = pd.a
       |  JOIN norms nb ON nb.vec_id = pd.b),
       |s1 AS (SELECT query_id, CAST(1 AS BIGINT) AS pick, vec_id, rel_u,
       |   CAST($lambdaU * rel_u AS BIGINT) AS mmr_num_u
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY rel_u DESC, vec_id) AS rk FROM pool)
       |  WHERE rk = 1)$rounds
       |SELECT query_id, pick, vec_id, rel_u, mmr_num_u FROM s$k""".stripMargin
  }

  // ---------------------------------------------------------------- round-11 batch 2
  // Hybrid retrieval (RRF fusion of the BM25 and dense-cosine rankers) and
  // position-sensitive index evaluation (nDCG vs the exact ground truth).

  /** Shared q289/q297 oracle: the fused-ranking context fill (q297's
    * stream-shaped serve plan must hash-match q289's batch relation —
    * that IS the twin claim, so they share one oracle). */
  private lazy val ragContextOracle: String = rrfCtes + ",\n" +
    s"""fsel AS ($rrfSelect),
       |tk AS (SELECT doc_id,
       |   CAST(len(list_filter(string_split_regex(text, '\\s+'),
       |     x -> x <> '')) AS BIGINT) AS n_tokens FROM documents)
       |SELECT query_id, doc_id, fused_rank, n_tokens, cum_tokens,
       |  cum_tokens <= 150 AS in_context FROM (
       |  SELECT f.query_id, f.doc_id, f.fused_rank, tk.n_tokens,
       |    CAST(sum(tk.n_tokens) OVER (PARTITION BY f.query_id
       |      ORDER BY f.fused_rank) AS BIGINT) AS cum_tokens
       |  FROM fsel f JOIN tk USING (doc_id))""".stripMargin

  /** Shared q280/q301 strided-span extent chain: ends at `ext(doc_id,
    * start_pos, end_pos, n_spans, extent_chars)` — q280 selects it
    * verbatim, q301 unions the per-doc intervals on top. */
  private lazy val extentCtes: String =
    """sp AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    CAST(CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 64)), 1, 15) AS UBIGINT) AS BIGINT) AS h
       |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 63, 16)) AS i
       |        FROM documents WHERE length(text) >= 64)),
       |duph AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |d AS (SELECT sp.doc_id, sp.pos FROM sp JOIN duph USING (h)),
       |g AS (SELECT doc_id, pos,
       |   pos - 16 * row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM d),
       |ext AS (
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
       |  CAST(max(pos) + 63 AS BIGINT) AS end_pos,
       |  CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(max(pos) + 64 - min(pos) AS BIGINT) AS extent_chars
       |FROM g GROUP BY doc_id, grp)""".stripMargin

  /** Shared q279/q294 two-modality pair chain over the paired corpus:
    * q199's banded perceptual-hash pairs (`ipairs`) and q35's verified
    * caption-MinHash pairs (`cpairs`). No WITH keyword — q279 prefixes
    * plain WITH, q294 WITH RECURSIVE (its union-closure CC needs it). */
  private lazy val pairModalityCtes: String =
    """pos AS (SELECT doc_id, text,
       |   unnest(range(1, strlen(text) + 1)) AS i FROM documents),
       |feat AS (SELECT doc_id AS media_id, CAST((i - 1) % 60 AS BIGINT) AS k,
       |   CAST(sum(ord(substr(text, CAST(i AS INT), 1))) AS BIGINT) AS f
       |  FROM pos GROUP BY 1, 2),
       |spine AS (SELECT d.doc_id AS media_id, r.range AS k
       |  FROM documents d, range(0, 60) r),
       |ff AS (SELECT s.media_id, s.k, coalesce(f.f, 0) AS f
       |  FROM spine s LEFT JOIN feat f
       |   ON f.media_id = s.media_id AND f.k = s.k),
       |bits AS (SELECT a.media_id,
       |   CASE WHEN a.f > b.f THEN 1::BIGINT << CAST(a.k AS INT) ELSE 0::BIGINT END AS bit
       |  FROM ff a JOIN ff b ON b.media_id = a.media_id
       |   AND b.k = (a.k + 1) % 60),
       |psig AS (SELECT media_id, CAST(sum(bit) AS BIGINT) AS phash
       |  FROM bits GROUP BY 1),
       |pchunks AS (SELECT media_id, c.range AS chunk,
       |   (phash >> CAST(c.range * 15 AS INT)) & 32767 AS key, phash
       |  FROM psig, range(0, 4) c),
       |ipairs AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b,
       |   CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
       |  FROM pchunks x JOIN pchunks y ON y.chunk = x.chunk
       |   AND y.key = x.key AND x.media_id < y.media_id
       |  WHERE bit_count(xor(x.phash, y.phash)) <= 3),
       |words AS (SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
       |    x -> x <> '') AS tl FROM documents)),
       |toks AS (
       |  SELECT DISTINCT doc_id,
       |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
       |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
       |msig AS (SELECT doc_id,
       |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
       |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
       |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
       |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
       |  FROM toks GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM msig
       |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM msig
       |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM msig
       |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM msig),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
       |   AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
       |inter AS (SELECT c.a, c.b, count(*) AS i
       |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
       |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
       |  GROUP BY 1, 2),
       |cpairs AS (SELECT a, b, jac_u FROM (
       |  SELECT c.a, c.b,
       |   CAST(floor(CAST(coalesce(i.i, 0) AS DOUBLE)
       |     / (sa.sz + sb.sz - coalesce(i.i, 0)) * 1000000) AS BIGINT) AS jac_u
       |  FROM cand c
       |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
       |  JOIN sizes sa ON sa.doc_id = c.a
       |  JOIN sizes sb ON sb.doc_id = c.b)
       |  WHERE jac_u >= 800000)""".stripMargin

  /** Full-recompute release-record oracle (diff counts + q35-style banded
    * MinHash replay + first-occurrence-wins release) over caller-supplied
    * old/new snapshot CTE bodies — shared by q274 (snapshot diff) and
    * q293 (changelog-applied snapshot): the oracle for BOTH increments IS
    * the full recompute, so each hash check re-proves increment ≡ full on
    * real data every round. */
  private def releaseRecomputeSql(oSql: String, nSql: String): String =
    s"""WITH o AS ($oSql),
       |n AS ($nSql),
              |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |   CASE WHEN o.doc_id IS NULL THEN 'added'
       |        WHEN n.doc_id IS NULL THEN 'removed'
       |        WHEN md5(o.text) = md5(n.text) THEN 'unchanged'
       |        ELSE 'changed' END AS status
       |  FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id),
       |words AS (SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> x <> '') AS tl FROM n)),
       |toks AS (
       |  SELECT DISTINCT doc_id,
       |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
       |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
       |sig AS (SELECT doc_id,
       |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
       |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
       |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
       |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
       |  FROM toks GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
       |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
       |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
       |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
       |   AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
       |inter AS (SELECT c.a, c.b, count(*) AS i
       |  FROM cand c JOIN toks ta ON ta.doc_id = c.a
       |  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
       |  GROUP BY 1, 2),
       |pairs AS (SELECT c.a, c.b FROM cand c
       |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
       |  JOIN sizes sa ON sa.doc_id = c.a
       |  JOIN sizes sb ON sb.doc_id = c.b
       |  WHERE floor(CAST(coalesce(i.i, 0) AS DOUBLE)
       |      / (sa.sz + sb.sz - coalesce(i.i, 0)) * 1000000) / 1000000 >= 0.8),
       |dropped AS (SELECT DISTINCT b AS doc_id FROM pairs),
       |rel AS (SELECT n.doc_id, n.text FROM n
       |  LEFT JOIN dropped dr ON dr.doc_id = n.doc_id
       |  WHERE dr.doc_id IS NULL),
       |agg AS (SELECT
       |   CAST(coalesce(sum(len(list_filter(string_split_regex(text, '\\s+'),
       |     x -> x <> ''))), 0) AS BIGINT) AS released_tokens,
       |   CAST(coalesce(bit_xor(${duckH60(
                     "'r:' || CAST(doc_id AS VARCHAR) || ':' || md5(text)")}), 0)
       |     AS BIGINT) AS released_digest
       |  FROM rel),
       |dc AS (SELECT
       |   CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |   CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |   CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |   CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
       |  FROM d),
       |cnts AS (SELECT
       |   (SELECT CAST(count(*) AS BIGINT) FROM n) AS n_docs,
       |   (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
       |   (SELECT CAST(count(*) AS BIGINT) FROM dropped) AS n_dropped)
       |SELECT cnts.n_docs, dc.n_added, dc.n_changed, dc.n_removed,
       |  dc.n_unchanged, cnts.n_pairs, cnts.n_dropped,
       |  cnts.n_docs - cnts.n_dropped AS n_released,
       |  agg.released_tokens, agg.released_digest
       |FROM cnts, dc, agg""".stripMargin

  /** Shared q275/q292 IVFADC index-replay CTE chain (coarse assignment →
    * residuals → 2 Lloyd rounds per subspace → final codes), ending at the
    * `codes` relation; probe blocks are generated per nprobe by
    * [[ivfPqProbeCtes]] so the q292 recall sweep replays ONE training and
    * four probes — exactly what the engine does. */
  // lazy: referenced by q275's registration, which initializes BEFORE
  // this val in declaration order (a plain val would still be null there)
  private lazy val ivfPqIndexCtes: String = ivfPqIndexCtesFrom("embeddings")

  /** The same index-replay chain with the source relation parameterized —
    * q298/q299 build the index from an OLD snapshot CTE. */
  private def ivfPqIndexCtesFrom(src: String): String = s"""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
    |   generate_subscripts(embedding, 1) AS i FROM $src),
    |ivd AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
    |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x FROM f),
    |cc AS MATERIALIZED (SELECT vec_id AS cell, d, x AS cx FROM ivd
    |  WHERE vec_id IN (SELECT DISTINCT vec_id FROM ivd ORDER BY vec_id LIMIT 8)),
    |vc AS MATERIALIZED (SELECT vec_id, cell FROM (
    |  SELECT vec_id, cell,
    |   row_number() OVER (PARTITION BY vec_id ORDER BY cdist, cell) AS rn FROM (
    |   SELECT i.vec_id, c.cell, sum((i.x - c.cx) * (i.x - c.cx)) AS cdist
    |   FROM ivd i JOIN cc c ON c.d = i.d GROUP BY 1, 2)) WHERE rn = 1),
    |riv AS MATERIALIZED (SELECT i.vec_id,
    |   CAST(i.d // 4 AS BIGINT) AS sub, CAST(i.d % 4 AS BIGINT) AS dl,
    |   i.x - c.cx AS x
    |  FROM ivd i JOIN vc ON vc.vec_id = i.vec_id
    |  JOIN cc c ON c.cell = vc.cell AND c.d = i.d),
    |c0 AS (SELECT vec_id AS cid, sub, dl, x AS cx FROM riv WHERE vec_id IN (
    |   SELECT vec_id FROM (SELECT DISTINCT vec_id FROM riv ORDER BY vec_id LIMIT 40)
    |   ORDER BY vec_id DESC LIMIT 32)),
    |a0 AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
    |  SELECT vec_id, sub, cid,
    |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM (
    |   SELECT riv.vec_id, riv.sub, c.cid, sum((riv.x - c.cx) * (riv.x - c.cx)) AS dist
    |   FROM riv JOIN c0 c ON c.sub = riv.sub AND c.dl = riv.dl GROUP BY 1, 2, 3)) WHERE rn = 1),
    |c1 AS MATERIALIZED (SELECT a.cid, a.sub, riv.dl,
    |  CAST(floor(sum(riv.x)::DOUBLE / count(*)) AS BIGINT) AS cx
    | FROM a0 a JOIN riv ON riv.vec_id = a.vec_id AND riv.sub = a.sub GROUP BY 1, 2, 3),
    |a1 AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
    |  SELECT vec_id, sub, cid,
    |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM (
    |   SELECT riv.vec_id, riv.sub, c.cid, sum((riv.x - c.cx) * (riv.x - c.cx)) AS dist
    |   FROM riv JOIN c1 c ON c.sub = riv.sub AND c.dl = riv.dl GROUP BY 1, 2, 3)) WHERE rn = 1),
    |c2 AS MATERIALIZED (SELECT a.cid, a.sub, riv.dl,
    |  CAST(floor(sum(riv.x)::DOUBLE / count(*)) AS BIGINT) AS cx
    | FROM a1 a JOIN riv ON riv.vec_id = a.vec_id AND riv.sub = a.sub GROUP BY 1, 2, 3),
    |codes AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
    |  SELECT vec_id, sub, cid,
    |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM (
    |   SELECT riv.vec_id, riv.sub, c.cid, sum((riv.x - c.cx) * (riv.x - c.cx)) AS dist
    |   FROM riv JOIN c2 c ON c.sub = riv.sub AND c.dl = riv.dl GROUP BY 1, 2, 3)) WHERE rn = 1)""".stripMargin

  /** Re-encode a corpus under the PERSISTED codebooks (`cc` coarse /
    * `c2` residual CTEs from [[ivfPqIndexCtesFrom]]) — the q298/q299
    * current-side chain; emits `<p>iv`, `<p>vc`, `<p>codes(vec_id, cell,
    * sub, cid)`. */
  private def ivfPqAssignCtes(p: String, src: String): String =
    s"""${p}iv AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
       |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |   generate_subscripts(embedding, 1) AS i FROM $src)),
       |${p}vc AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY cdist, cell) AS rn FROM (
       |   SELECT i.vec_id, c.cell, sum((i.x - c.cx) * (i.x - c.cx)) AS cdist
       |   FROM ${p}iv i JOIN cc c ON c.d = i.d GROUP BY 1, 2)) WHERE rn = 1),
       |${p}riv AS (SELECT i.vec_id, v.cell,
       |   CAST(i.d // 4 AS BIGINT) AS sub, CAST(i.d % 4 AS BIGINT) AS dl,
       |   i.x - c.cx AS x
       |  FROM ${p}iv i JOIN ${p}vc v ON v.vec_id = i.vec_id
       |  JOIN cc c ON c.cell = v.cell AND c.d = i.d),
       |${p}codes AS (SELECT vec_id, cell, sub, cid FROM (
       |  SELECT vec_id, cell, sub, cid,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM (
       |   SELECT riv.vec_id, riv.cell, riv.sub, c.cid,
       |    sum((riv.x - c.cx) * (riv.x - c.cx)) AS dist
       |   FROM ${p}riv riv JOIN c2 c ON c.sub = riv.sub AND c.dl = riv.dl
       |   GROUP BY 1, 2, 3, 4)) WHERE rn = 1)""".stripMargin

  /** One IVFADC probe block at `nprobe` with CTE names prefixed by `p`
    * (empty prefix reproduces the q275 chain verbatim); ends at
    * `<p>ranked(query_id, vec_id, adist, rank)`. */
  private def ivfPqProbeCtes(p: String, nprobe: Int): String =
    s"""${p}probes AS (SELECT vec_id AS query_id, cell FROM (
       |  SELECT vec_id, cell,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY cdist, cell) AS rn FROM (
       |   SELECT i.vec_id, c.cell, sum((i.x - c.cx) * (i.x - c.cx)) AS cdist
       |   FROM ivd i JOIN cc c ON c.d = i.d WHERE i.vec_id < 5 GROUP BY 1, 2)) WHERE rn <= $nprobe),
       |${p}qres AS (SELECT p.query_id, p.cell,
       |   CAST(i.d // 4 AS BIGINT) AS sub, CAST(i.d % 4 AS BIGINT) AS dl,
       |   i.x - c.cx AS qx
       |  FROM ${p}probes p JOIN ivd i ON i.vec_id = p.query_id
       |  JOIN cc c ON c.cell = p.cell AND c.d = i.d),
       |${p}qd AS MATERIALIZED (SELECT q.query_id, q.cell, q.sub, c.cid,
       |   sum((q.qx - c.cx) * (q.qx - c.cx)) AS qdist
       |  FROM ${p}qres q JOIN c2 c ON c.sub = q.sub AND c.dl = q.dl
       |  GROUP BY 1, 2, 3, 4),
       |${p}ad AS (SELECT qd.query_id, codes.vec_id, sum(qd.qdist) AS adist
       |  FROM codes JOIN vc ON vc.vec_id = codes.vec_id
       |  JOIN ${p}qd qd ON qd.cell = vc.cell AND qd.sub = codes.sub AND qd.cid = codes.cid
       |  WHERE codes.vec_id <> qd.query_id GROUP BY 1, 2),
       |${p}ranked AS (SELECT query_id, vec_id, CAST(adist AS BIGINT) AS adist,
       |   CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS INT) AS rank
       |  FROM ${p}ad)""".stripMargin

  /** The q282 discount/ideal CASE chains — generated from the SAME
    * [[graft.ops.Retrieval.ndcgWeights]] constants the engine embeds, so
    * neither engine evaluates log₂ at query time (the q278 pattern). */
  private def ndcgWeightSql(rank: String, k: Int): String = {
    val cases = graft.ops.Retrieval.ndcgWeights(k).zipWithIndex
      .map { case (u, i) => s"WHEN ${i + 1} THEN $u" }.mkString(" ")
    s"CASE $rank $cases END"
  }

  private def ndcgIdcgSql(n: String, k: Int): String = {
    val cases = graft.ops.Retrieval.ndcgWeights(k).scanLeft(0L)(_ + _).tail
      .zipWithIndex.map { case (s, i) => s"WHEN ${i + 1} THEN $s" }.mkString(" ")
    s"CASE $n $cases END"
  }

  /** Shared q281/q289 hybrid-fusion CTE chain (q154's BM25 lexical list +
    * q38's dense cosine list + integer RRF), ending at the `rr` scored
    * relation; consumers append their final select. */
  private val rrfCtes: String = """WITH words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |sl AS (SELECT CAST(sum(tf) AS BIGINT) AS sl FROM tf),
             |idf AS (SELECT tok,
             |    CAST(floor(ln(CAST(1.0 AS DOUBLE) + (n.n - df + CAST(0.5 AS DOUBLE))
             |      / (df + CAST(0.5 AS DOUBLE))) * 1000000) AS BIGINT) AS idf_u
             |  FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1) d, n
             |  WHERE df >= 2 AND df * 2 <= n.n),
             |qy AS (SELECT t.doc_id AS query_id, t.tok, i.idf_u
             |  FROM tf t JOIN idf i USING (tok) WHERE t.doc_id % 251 = 0),
             |scored AS (SELECT qy.query_id, t.doc_id,
             |    CAST(sum(qy.idf_u * CAST(floor((t.tf * CAST(2.2 AS DOUBLE)
             |      / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |        + CAST(0.75 AS DOUBLE) * ((l.len * n.n) / sl.sl)))) * 1000000) AS BIGINT))
             |      AS BIGINT) AS score_u
             |  FROM qy JOIN tf t ON t.tok = qy.tok
             |  JOIN len l ON l.doc_id = t.doc_id, n, sl
             |  GROUP BY 1, 2),
             |lex AS (SELECT query_id, doc_id, CAST(rank AS BIGINT) AS lex_rank FROM (
             |  SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS rank
             |  FROM scored) WHERE rank <= 5),
             |f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |eq AS (SELECT vec_id AS query_id, v AS qv, i FROM f WHERE vec_id % 251 = 0),
             |dots AS (SELECT eq.query_id, f.vec_id, sum(CAST(eq.qv AS DOUBLE) * f.v) AS dp
             |  FROM eq JOIN f ON eq.i = f.i WHERE f.vec_id <> eq.query_id GROUP BY 1, 2),
             |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
             |dcos AS (SELECT d.query_id, d.vec_id,
             |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
             |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
             |  JOIN norms nc ON nc.vec_id = d.vec_id),
             |dense AS (SELECT query_id, vec_id AS doc_id,
             |   CAST(rank AS BIGINT) AS dense_rank FROM (
             |  SELECT query_id, vec_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
             |  FROM dcos) WHERE rank <= 5),
             |fused AS (SELECT coalesce(l.query_id, de.query_id) AS query_id,
             |   coalesce(l.doc_id, de.doc_id) AS doc_id, l.lex_rank, de.dense_rank
             |  FROM lex l FULL OUTER JOIN dense de
             |   ON de.query_id = l.query_id AND de.doc_id = l.doc_id),
             |rr AS (SELECT *,
             |   CAST(coalesce(1000000 // (60 + lex_rank), 0)
             |     + coalesce(1000000 // (60 + dense_rank), 0) AS BIGINT) AS rrf_u
             |  FROM fused WHERE doc_id <> query_id)""".stripMargin

  /** The q281 final select over [[rrfCtes]]' `rr` relation. */
  private val rrfSelect: String =
    """SELECT query_id, doc_id, lex_rank, dense_rank, rrf_u,
      |  CAST(fused_rank AS BIGINT) AS fused_rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf_u DESC, doc_id) AS fused_rank FROM rr)
      |WHERE fused_rank <= 5""".stripMargin

  /** q290's per-snapshot MinHash signature chain (the q155/q279 msig
    * replay) over a named base CTE; emits `<p>sig(doc_id, h0..h7)`. */
  private def msigSql(p: String, baseCte: String): String =
    s"""${p}w AS (SELECT doc_id, unnest(tl) AS w,
       |   generate_subscripts(tl, 1) AS pos
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> x <> '') AS tl FROM $baseCte)),
       |${p}t AS (
       |  SELECT DISTINCT doc_id,
       |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
       |  FROM ${p}w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
       |${p}sig AS (SELECT doc_id,
       |  min(md5('0:' || tok)) AS h0, min(md5('1:' || tok)) AS h1,
       |  min(md5('2:' || tok)) AS h2, min(md5('3:' || tok)) AS h3,
       |  min(md5('4:' || tok)) AS h4, min(md5('5:' || tok)) AS h5,
       |  min(md5('6:' || tok)) AS h6, min(md5('7:' || tok)) AS h7
       |  FROM ${p}t GROUP BY doc_id)""".stripMargin

  /** Shared q288/q291 oracle CTE chain: q166's LM cross-entropy → quarter-
    * nat buckets → equal-mass stages → the `bs` staged relation with the
    * md5 order key; consumers append their final select. */
  private val curriculumCtes: String =
    """WITH tl AS (SELECT doc_id,
      |   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
      |  FROM documents),
      |lm AS (SELECT tok, count(*) AS cnt FROM tl GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tl),
      |terms AS (SELECT t.doc_id,
      |   CAST(floor((ln(CAST(n.n AS DOUBLE)) - ln(CAST(lm.cnt AS DOUBLE)))
      |     * 1000000) AS BIGINT) AS term_u
      |  FROM tl t JOIN lm USING (tok), n),
      |nll AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |   CAST(sum(term_u) // count(*) AS BIGINT) AS avg_nll_u
      |  FROM terms GROUP BY 1),
      |b AS (SELECT *, avg_nll_u // 250000 AS bucket FROM nll),
      |bh AS (SELECT bucket, count(*) AS m FROM b GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM b),
      |st AS (SELECT bucket, least(3,
      |   coalesce(sum(m) OVER (ORDER BY bucket
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |   * 4 // tot.nd) AS stage
      |  FROM bh, tot),
      |bs AS (SELECT b.doc_id, b.n_tokens, b.avg_nll_u, b.bucket,
      |   st.stage, md5(CAST(b.doc_id AS VARCHAR)) AS mm
      |  FROM b JOIN st USING (bucket))""".stripMargin

  private val ext38Qs = Seq(
    Q("q281_rrf_fusion",
      // sparse+dense hybrid retrieval: q154's BM25 lexical list and q38's
      // dense cosine list over the shared id space, fused by integer
      // reciprocal-rank scores (q135 fuses two DENSE rankings of one
      // modality; this is the cross-modality lexical×embedding hybrid a
      // RAG stack serves) — each list keeps its RAW ranks; the lexical
      // self-hit is filtered from the fused output only
      (s, d) => graft.ops.Retrieval.rrfFusion(
        T(s, d, "documents"), T(s, d, "embeddings")),
      Some(rrfCtes + "\n" + rrfSelect)),

    Q("q282_ndcg_audit",
      // position-sensitive ANN quality: q195's exact/LSH chains, scored by
      // nDCG with Scala-precomputed ⌊10⁶/log₂(r+1)⌋ discount literals on
      // both engines — binary relevance (in exact top-k or not)
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding"))
        graft.ops.Retrieval.ndcgAudit(emb, queries, k = 10)
      },
      Some(s"""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
              |   generate_subscripts(embedding, 1) AS i FROM embeddings),
              |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
              |q AS (SELECT vec_id AS query_id, v AS qv, i FROM f WHERE vec_id < 5),
              |edots AS (SELECT q.query_id, f.vec_id, sum(CAST(q.qv AS DOUBLE) * f.v) AS dp
              |  FROM q JOIN f ON q.i = f.i WHERE f.vec_id <> q.query_id GROUP BY 1, 2),
              |ecos AS (SELECT d.query_id, d.vec_id,
              |   round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
              |  FROM edots d JOIN norms nq ON nq.vec_id = d.query_id
              |  JOIN norms nc ON nc.vec_id = d.vec_id),
              |exact AS (SELECT query_id, vec_id,
              |   CAST(row_number() OVER (PARTITION BY query_id
              |     ORDER BY cos DESC, vec_id) AS BIGINT) AS exact_rank
              |  FROM ecos QUALIFY exact_rank <= 10),
              |fi AS (SELECT vec_id, i,
              |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS iv FROM f),
              |planes AS (SELECT p, d,
              |   (list_sum(list_transform(range(15), j ->
              |      CAST(strpos('0123456789abcdef', substr(md5(p || ':' || d), CAST(j + 1 AS INT), 1)) - 1
              |        AS BIGINT) * (1::BIGINT << CAST(4 * (14 - j) AS INT)))) % 2001) - 1000 AS h
              |  FROM range(6) t(p), range(64) s(d)),
              |proj AS (SELECT fi.vec_id, pl.p, sum(fi.iv * pl.h) AS pr
              |  FROM fi JOIN planes pl ON pl.d = fi.i - 1 GROUP BY 1, 2),
              |sig AS (SELECT vec_id,
              |   CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS sig
              |  FROM proj GROUP BY 1),
              |acand AS (SELECT qs.vec_id AS query_id, cs.vec_id
              |  FROM (SELECT * FROM sig WHERE vec_id < 5) qs
              |  JOIN sig cs ON cs.sig = qs.sig AND cs.vec_id <> qs.vec_id),
              |adots AS (SELECT c.query_id, c.vec_id, sum(CAST(fq.v AS DOUBLE) * fc.v) AS dp
              |  FROM acand c JOIN f fq ON fq.vec_id = c.query_id
              |  JOIN f fc ON fc.vec_id = c.vec_id AND fc.i = fq.i GROUP BY 1, 2),
              |acos AS (SELECT d.query_id, d.vec_id, round(d.dp / (nq.nrm * nc.nrm), 6) AS cos
              |  FROM adots d JOIN norms nq ON nq.vec_id = d.query_id
              |  JOIN norms nc ON nc.vec_id = d.vec_id),
              |approx AS (SELECT query_id, vec_id,
              |   CAST(row_number() OVER (PARTITION BY query_id
              |     ORDER BY cos DESC, vec_id) AS BIGINT) AS approx_rank
              |  FROM acos QUALIFY approx_rank <= 10),
              |hits AS (SELECT e.query_id, count(*) AS n_hit,
              |   CAST(sum(${ndcgWeightSql("a.approx_rank", 10)}) AS BIGINT) AS dcg_u
              |  FROM exact e JOIN approx a ON a.query_id = e.query_id
              |   AND a.vec_id = e.vec_id GROUP BY 1),
              |perq AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
              |qids AS (SELECT DISTINCT vec_id AS query_id FROM embeddings
              |  WHERE vec_id < 5)
              |SELECT b.query_id,
              |  CAST(coalesce(p.n_exact, 0) AS BIGINT) AS n_exact,
              |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
              |  CAST(coalesce(h.dcg_u, 0) AS BIGINT) AS dcg_u,
              |  CAST(coalesce(${ndcgIdcgSql("p.n_exact", 10)}, 0) AS BIGINT)
              |    AS idcg_u,
              |  CAST(CASE WHEN coalesce(p.n_exact, 0) > 0
              |    THEN coalesce(h.dcg_u, 0) * 1000000
              |      // ${ndcgIdcgSql("p.n_exact", 10)} END AS BIGINT) AS ndcg_u
              |FROM qids b LEFT JOIN perq p ON p.query_id = b.query_id
              |  LEFT JOIN hits h ON h.query_id = b.query_id""".stripMargin)),

    Q("q283_conformal_interval",
      // split-conformal coverage audit for the chars→tokens predictor:
      // calibration = even doc_ids; q̂ = the ⌈(n+1)(1−α)⌉-th smallest
      // whole-token residual off a value-domain histogram; coverage
      // audited on the odd-id test split (q231's reliability audit
      // DESCRIBES bins; this produces a GUARANTEED interval)
      (s, d) => graft.ops.Classifier.conformalInterval(
        T(s, d, "documents"), col("doc_id") % 2 === 0),
      Some("""WITH base AS (SELECT doc_id,
             |   CAST(len(list_filter(string_split_regex(text, '\s+'),
             |     x -> x <> '')) AS BIGINT) AS tok,
             |   n_chars, doc_id % 2 = 0 AS is_cal FROM documents),
             |fit AS (SELECT CAST(count(*) AS BIGINT) AS n_calib,
             |   CAST(sum(tok) * 1000000 // sum(n_chars) AS BIGINT) AS ratio_u
             |  FROM base WHERE is_cal),
             |resid AS (SELECT b.doc_id, b.is_cal,
             |   abs(b.tok - b.n_chars * f.ratio_u // 1000000) AS err
             |  FROM base b, fit f),
             |hist AS (SELECT err, count(*) AS cnt FROM resid WHERE is_cal
             |  GROUP BY 1),
             |cum AS (SELECT err, sum(cnt) OVER (ORDER BY err) AS cum FROM hist),
             |qh AS (SELECT
             |   min(CASE WHEN cum >= (90 * (f.n_calib + 1) + 99) // 100
             |     THEN err END) AS qhat,
             |   max((90 * (f.n_calib + 1) + 99) // 100) AS rank_needed
             |  FROM cum, fit f),
             |tst AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
             |   CAST(sum(CASE WHEN q.qhat IS NULL OR err <= q.qhat
             |     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
             |   max(q.qhat) AS qhat, max(q.rank_needed) AS rank_needed
             |  FROM resid, qh q WHERE NOT is_cal)
             |SELECT f.n_calib, t.n_test, f.ratio_u,
             |  CAST(t.qhat AS BIGINT) AS qhat,
             |  CAST(t.rank_needed AS BIGINT) AS rank_needed,
             |  CAST(900000 AS BIGINT) AS target_u, t.n_covered,
             |  CAST(t.n_covered * 1000000 // t.n_test AS BIGINT) AS coverage_u,
             |  CAST(CASE WHEN t.n_covered * 1000000 // t.n_test >= 900000
             |    THEN 1 ELSE 0 END AS BIGINT) AS met_target
             |FROM fit f, tst t""".stripMargin)),

    Q("q284_forget_docs",
      // right-to-be-forgotten propagation: deletion list → what leaves the
      // corpus + what happens to DERIVED release artifacts (exact-class
      // keeper re-elections, XOR manifest digest patch) in one row; the
      // digest delta is the incremental manifest fix (cost ∝ |deletions|)
      (s, d) => graft.ops.Pipeline.forgetDocs(
        T(s, d, "documents"), col("doc_id") % 97 === 0),
      Some(s"""WITH base AS (SELECT doc_id, md5(text) AS gkey,
              |   CAST(len(list_filter(string_split_regex(text, '\\s+'),
              |     x -> x <> '')) AS BIGINT) AS tok,
              |   doc_id % 97 = 0 AS gone FROM documents),
              |g AS (SELECT gkey, min(doc_id) AS kb,
              |   min(CASE WHEN NOT gone THEN doc_id END) AS ka,
              |   max(CASE WHEN gone THEN 1 ELSE 0 END) AS anyg,
              |   min(CASE WHEN gone THEN 1 ELSE 0 END) AS allg
              |  FROM base GROUP BY 1),
              |gg AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
              |   CAST(sum(anyg) AS BIGINT) AS n_groups_touched,
              |   CAST(sum(allg) AS BIGINT) AS n_groups_emptied,
              |   CAST(sum(CASE WHEN ka IS NOT NULL AND ka <> kb
              |     THEN 1 ELSE 0 END) AS BIGINT) AS n_keeper_reelected,
              |   CAST(coalesce(bit_xor(
              |     ${duckH60("'m:' || CAST(kb AS VARCHAR)")}), 0) AS BIGINT)
              |     AS digest_before,
              |   CAST(coalesce(bit_xor(CASE WHEN ka IS NOT NULL THEN
              |     ${duckH60("'m:' || CAST(ka AS VARCHAR)")} END), 0) AS BIGINT)
              |     AS digest_after
              |  FROM g),
              |dd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |   CAST(sum(CASE WHEN gone THEN 1 ELSE 0 END) AS BIGINT)
              |     AS n_forgotten,
              |   CAST(coalesce(sum(CASE WHEN gone THEN tok END), 0) AS BIGINT)
              |     AS tokens_forgotten,
              |   CAST(sum(CASE WHEN NOT gone THEN 1 ELSE 0 END) AS BIGINT)
              |     AS n_surviving
              |  FROM base)
              |SELECT dd.n_docs, dd.n_forgotten, dd.tokens_forgotten,
              |  dd.n_surviving, gg.n_groups, gg.n_groups_touched,
              |  gg.n_groups_emptied, gg.n_keeper_reelected,
              |  gg.digest_before, gg.digest_after,
              |  xor(gg.digest_before, gg.digest_after) AS digest_delta
              |FROM dd, gg""".stripMargin)),

    Q("q285_canary_audit",
      // Secret-Sharer canary placement × exact dedup: inject a unique
      // canary token into every 101st doc, report the dedup-split corpus
      // inflation and the canaries riding duplicated content (whose
      // exposure measurement dedup biases)
      (s, d) => graft.ops.TrainingData.canaryAudit(T(s, d, "documents")),
      Some("""WITH inj AS (SELECT doc_id, text, doc_id % 101 = 0 AS is_c,
             |   CASE WHEN doc_id % 101 = 0 THEN text || ' CANARY'
             |     || md5('c:' || CAST(doc_id AS VARCHAR)) ELSE text END AS itext
             |  FROM documents),
             |go AS (SELECT md5(text) AS k, count(*) AS m FROM inj GROUP BY 1),
             |gb AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
             |   CAST(sum(m) AS BIGINT) AS n_docs FROM go),
             |ga AS (SELECT CAST(count(*) AS BIGINT) AS n_keepers_after
             |  FROM (SELECT md5(itext) AS ka FROM inj GROUP BY 1)),
             |esc AS (SELECT CAST(count(*) AS BIGINT) AS n_canaries,
             |   CAST(sum(CASE WHEN go.m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |     AS n_dup_escapes
             |  FROM inj i JOIN go ON go.k = md5(i.text) WHERE i.is_c)
             |SELECT gb.n_docs, esc.n_canaries, gb.n_groups,
             |  ga.n_keepers_after,
             |  ga.n_keepers_after - gb.n_groups AS corpus_inflation,
             |  esc.n_dup_escapes
             |FROM gb, ga, esc""".stripMargin)),

    Q("q286_source_contribution",
      // leave-one-source-out data valuation: exact-class composition rolled
      // up to per-source exclusive vs shared content (q192's cross-source
      // matrix counts near-dup PAIRS between sources; this prices the
      // keep/prune decision — exclusive tokens count ONE keeper copy)
      (s, d) => graft.ops.TrainingData.sourceContribution(
        T(s, d, "documents")),
      Some("""WITH base AS (SELECT source, md5(text) AS gkey,
             |   CAST(len(list_filter(string_split_regex(text, '\s+'),
             |     x -> x <> '')) AS BIGINT) AS tok FROM documents),
             |gs AS (SELECT gkey, source, count(*) AS sg_docs,
             |   CAST(sum(tok) AS BIGINT) AS sg_tokens,
             |   min(tok) AS gtok
             |  FROM base GROUP BY 1, 2),
             |g AS (SELECT gkey, count(*) AS n_sources FROM gs GROUP BY 1)
             |SELECT gs.source,
             |  CAST(sum(gs.sg_docs) AS BIGINT) AS n_docs,
             |  CAST(sum(gs.sg_tokens) AS BIGINT) AS n_tokens,
             |  CAST(count(*) AS BIGINT) AS n_groups_touching,
             |  CAST(sum(CASE WHEN g.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_exclusive_groups,
             |  CAST(sum(CASE WHEN g.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_shared_groups,
             |  CAST(coalesce(sum(CASE WHEN g.n_sources = 1 THEN gs.gtok END), 0)
             |    AS BIGINT) AS exclusive_tokens,
             |  CAST(sum(CASE WHEN g.n_sources > 1 THEN 1 ELSE 0 END) * 1000000
             |    // count(*) AS BIGINT) AS redundancy_u
             |FROM gs JOIN g USING (gkey)
             |GROUP BY 1""".stripMargin)),

    Q("q287_forget_transitions",
      // per-class keeper transitions for the q284 deletion set — the
      // relation a manifest patch job consumes, and the batch twin of
      // ForgetStream's incremental emissions (XOR-telescoping equality is
      // the StreamingSpec planted proof)
      (s, d) => graft.ops.Pipeline.forgetTransitions(
        T(s, d, "documents"), col("doc_id") % 97 === 0),
      Some("""WITH g AS (SELECT md5(text) AS class_key,
             |   min(doc_id) AS keeper_before,
             |   coalesce(min(CASE WHEN NOT (doc_id % 97 = 0)
             |     THEN doc_id END), -1) AS keeper_after,
             |   CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)
             |     AS BIGINT) AS n_deleted
             |  FROM documents GROUP BY 1)
             |SELECT class_key, keeper_before, keeper_after, n_deleted
             |FROM g WHERE keeper_after <> keeper_before""".stripMargin)),

    Q("q288_curriculum_order",
      // competence-based curriculum: q166's LM cross-entropy difficulty →
      // equal-mass stages off a quarter-nat histogram → TOTAL
      // deterministic training order via the two-phase prefix-sum scheme
      // (the oracle's global-sort row_number proves the engine's
      // sort-free position arithmetic equals a real global sort)
      (s, d) => graft.ops.TrainingData.curriculumOrder(
        T(s, d, "documents")),
      Some(curriculumCtes + """
             |SELECT doc_id, n_tokens, avg_nll_u,
             |  CAST(bucket AS BIGINT) AS bucket, CAST(stage AS BIGINT) AS stage,
             |  CAST(row_number() OVER (ORDER BY stage, mm, doc_id) AS BIGINT)
             |    AS pos
             |FROM bs""".stripMargin)),

    Q("q291_curriculum_packing",
      // concat-and-chunk epoch manifest over the q288 order: documents
      // concatenate easy-first, the token stream chunks into 2048-token
      // bins, each doc assigned the bin where it STARTS — same sort-free
      // offset arithmetic, proven against the oracle's global-sort window
      (s, d) => graft.ops.TrainingData.curriculumPacking(
        T(s, d, "documents")),
      Some(curriculumCtes + """
             |SELECT doc_id, n_tokens, stage, pos, start_offset,
             |  CAST(start_offset // 2048 AS BIGINT) AS bin FROM (
             |  SELECT doc_id, n_tokens, CAST(stage AS BIGINT) AS stage,
             |    CAST(row_number() OVER w AS BIGINT) AS pos,
             |    CAST(coalesce(sum(n_tokens) OVER (w ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS start_offset
             |  FROM bs WINDOW w AS (ORDER BY stage, mm, doc_id))""".stripMargin)),

    Q("q289_rag_context",
      // the serving step after q281: fill a 150-token context window in
      // fused-rank order, strict-prefix semantics (first overflow closes
      // the context — no back-fill), the deterministic cut a RAG stack
      // actually ships
      (s, d) => graft.ops.Retrieval.ragContext(
        T(s, d, "documents"), T(s, d, "embeddings")),
      Some(ragContextOracle)),

    Q("q290_index_staleness",
      // persisted-signature-index freshness audit: previous snapshot =
      // docs % 7 != 0 (with % 13 == 0 texts drifted), current corpus =
      // docs % 11 != 0 — exercising unindexed arrivals, orphaned
      // departures, and changed-content entries in one release-cadence
      // ground-truthing pass (the hot path stays q153's index reuse);
      // n_corpus anchors on RAW doc_ids so sub-3-token docs count too
      (s, d) => {
        val docs = T(s, d, "documents")
        val prev = docs.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text", when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" snapshot drifted")))
            .otherwise(col("text")))
        graft.ops.Dedup.indexStaleness(
          docs.filter(col("doc_id") % 11 =!= 0),
          graft.ops.Dedup.minhashSignatures(prev, 8))
      },
      Some(s"""WITH curdocs AS (SELECT doc_id, text FROM documents
              |  WHERE doc_id % 11 <> 0),
              |prevdocs AS (SELECT doc_id,
              |   CASE WHEN doc_id % 13 = 0 THEN text || ' snapshot drifted'
              |     ELSE text END AS text
              |  FROM documents WHERE doc_id % 7 <> 0),
              |${msigSql("c", "curdocs")},
              |${msigSql("p", "prevdocs")},
              |cids AS (SELECT cd.doc_id, s.h0, s.h1, s.h2, s.h3, s.h4,
              |   s.h5, s.h6, s.h7
              |  FROM curdocs cd LEFT JOIN csig s USING (doc_id)),
              |j AS (SELECT
              |   CASE WHEN p.doc_id IS NULL THEN 'unindexed'
              |        WHEN c.doc_id IS NULL THEN 'orphaned'
              |        WHEN c.h0 IS NULL
              |          OR c.h0 <> p.h0 OR c.h1 <> p.h1 OR c.h2 <> p.h2
              |          OR c.h3 <> p.h3 OR c.h4 <> p.h4 OR c.h5 <> p.h5
              |          OR c.h6 <> p.h6 OR c.h7 <> p.h7 THEN 'changed'
              |        ELSE 'fresh' END AS status
              |  FROM cids c FULL OUTER JOIN psig p ON p.doc_id = c.doc_id)
              |SELECT
              |  CAST(sum(CASE WHEN status <> 'orphaned' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_corpus,
              |  CAST(sum(CASE WHEN status <> 'unindexed' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_index,
              |  CAST(sum(CASE WHEN status = 'fresh' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_fresh,
              |  CAST(sum(CASE WHEN status = 'unindexed' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_unindexed,
              |  CAST(sum(CASE WHEN status = 'orphaned' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_orphaned,
              |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_changed,
              |  CAST(sum(CASE WHEN status = 'fresh' THEN 1 ELSE 0 END) * 1000000
              |    // sum(CASE WHEN status <> 'orphaned' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS coverage_u
              |FROM j""".stripMargin)))

  // ---------------------------------------------------------------- round-12
  // IVF-PQ quality measurement: the index is only servable if its
  // recall-vs-nprobe curve is known; q292 sweeps it against exact
  // integer-L2 ground truth, sharing ONE training with four probes.

  /** Per-nprobe q292 eval block over the shared `ex`/`perq`/`qx` ground-
    * truth CTEs and the `n<np>ranked` probe chain. */
  private def ivfPqEvalCte(np: Int): String =
    s"""n${np}h AS (SELECT e.query_id, count(*) AS n_hit,
       |   CAST(sum(${ndcgWeightSql("r.rank", 10)}) AS BIGINT) AS dcg_u
       |  FROM ex e JOIN n${np}ranked r ON r.query_id = e.query_id
       |   AND r.vec_id = e.vec_id AND r.rank <= 10 GROUP BY 1),
       |n${np}e AS (SELECT CAST($np AS BIGINT) AS nprobe, b.query_id,
       |   CAST(coalesce(p.n_exact, 0) AS BIGINT) AS n_exact,
       |   CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |   CAST(CASE WHEN coalesce(p.n_exact, 0) > 0
       |     THEN coalesce(h.n_hit, 0) * 1000000 // p.n_exact END AS BIGINT)
       |     AS recall_u,
       |   CAST(coalesce(h.dcg_u, 0) AS BIGINT) AS dcg_u,
       |   CAST(coalesce(${ndcgIdcgSql("p.n_exact", 10)}, 0) AS BIGINT) AS idcg_u,
       |   CAST(CASE WHEN coalesce(p.n_exact, 0) > 0
       |     THEN coalesce(h.dcg_u, 0) * 1000000
       |       // ${ndcgIdcgSql("p.n_exact", 10)} END AS BIGINT) AS ndcg_u
       |  FROM qx b LEFT JOIN perq p ON p.query_id = b.query_id
       |  LEFT JOIN n${np}h h ON h.query_id = b.query_id)""".stripMargin

  private val ext39Qs = Seq(
    Q("q293_changelog_release",
      // the q274 increment with its last corpus-sized stage removed: the
      // delta arrives as (op, doc_id, text) CHANGE ROWS — deletes for
      // % 97, changed texts for % 13, brand-new near-dup arrivals cloned
      // from % 17, and a same-text NOOP upsert for % 41 (whose state must
      // survive untouched). The oracle is the FULL recompute over the
      // applied snapshot, so the hash check proves changelog ≡ full
      (s, d) => {
        val docs = T(s, d, "documents")
        val st = graft.ops.Pipeline.releaseState(docs)
        val adds = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            concat(col("text"), lit(" arrival")).as("text"))
        val changelog = docs.filter(col("doc_id") % 97 === 0)
          .select(lit("delete").as("op"), col("doc_id"),
            lit(null).cast("string").as("text"))
          .unionByName(docs
            .filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 13 === 0)
            .select(lit("upsert").as("op"), col("doc_id"),
              concat(col("text"), lit(" changelog v2")).as("text")))
          .unionByName(adds.select(lit("upsert").as("op"), col("doc_id"),
            col("text")))
          .unionByName(docs
            .filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 13 =!= 0 &&
              col("doc_id") % 41 === 0)
            .select(lit("upsert").as("op"), col("doc_id"), col("text")))
        val corpusNew = docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 0,
              concat(col("text"), lit(" changelog v2")))
              .otherwise(col("text")).as("text"))
          .unionByName(adds)
        graft.ops.Pipeline.incrementalReleaseChangelog(st, corpusNew,
          changelog)
      },
      Some(releaseRecomputeSql(
        "SELECT doc_id, text FROM documents",
        """SELECT doc_id,
          |   CASE WHEN doc_id % 13 = 0 THEN text || ' changelog v2'
          |     ELSE text END AS text
          |  FROM documents WHERE doc_id % 97 <> 0
          |  UNION ALL
          |  SELECT doc_id + 5000000 AS doc_id, text || ' arrival' AS text
          |  FROM documents WHERE doc_id % 17 = 0""".stripMargin))),

    Q("q294_multimodal_keepers",
      // multimodal dedup RESOLUTION: clusters close over the UNION of
      // q199's perceptual-hash pairs and q35's caption-MinHash pairs
      // (either modality can vouch for a duplicate); q157's keeper policy
      // (most caption tokens, ties to smallest id) elects the released
      // pair per cluster, and docs riding a disagreeing (img_only /
      // cap_only) pair are flagged as cross-modal conflict casualties
      (s, d) => {
        val docs = T(s, d, "documents")
        graft.ops.Multimodal.multimodalKeepers(
          graft.ops.Multimodal.ingest(docs),
          docs.select(col("doc_id").as("media_id"),
            col("text").as("caption")))
      },
      Some("WITH RECURSIVE " + pairModalityCtes + ",\n" +
        """up AS (SELECT a, b FROM ipairs UNION SELECT a, b FROM cpairs),
          |und(a, b) AS (SELECT a, b FROM up UNION SELECT b, a FROM up),
          |nodes AS (SELECT doc_id AS id FROM documents),
          |r(s, id) AS (
          |  SELECT id, id FROM nodes
          |  UNION SELECT r.s, u.b FROM r JOIN und u ON u.a = r.id),
          |comp AS (SELECT s AS media_id, min(id) AS cluster FROM r GROUP BY s),
          |tok AS (SELECT doc_id AS media_id,
          |   CAST(len(list_filter(string_split_regex(text, '\s+'),
          |     x -> x <> '')) AS BIGINT) AS n_tokens FROM documents),
          |el AS (SELECT cluster, media_id AS keeper FROM (
          |  SELECT c.cluster, c.media_id,
          |   row_number() OVER (PARTITION BY c.cluster
          |     ORDER BY t.n_tokens DESC, c.media_id) AS rk
          |  FROM comp c JOIN tok t USING (media_id)) WHERE rk = 1),
          |dis AS (SELECT i.a, i.b FROM ipairs i
          |   LEFT JOIN cpairs c ON c.a = i.a AND c.b = i.b WHERE c.a IS NULL
          |  UNION SELECT c.a, c.b FROM cpairs c
          |   LEFT JOIN ipairs i ON i.a = c.a AND i.b = c.b WHERE i.a IS NULL),
          |confl AS (SELECT DISTINCT m AS media_id FROM (
          |  SELECT a AS m FROM dis UNION ALL SELECT b FROM dis))
          |SELECT c.media_id, c.cluster, t.n_tokens,
          |  c.media_id = e.keeper AS keep,
          |  cf.media_id IS NOT NULL AS conflict
          |FROM comp c JOIN tok t USING (media_id)
          |JOIN el e ON e.cluster = c.cluster
          |LEFT JOIN confl cf ON cf.media_id = c.media_id""".stripMargin)),

    Q("q295_epoch_curriculum",
      // epoch-aware curriculum manifest: q214's quality-tier replication
      // (top stopword-ratio tier x3, mid x2) joined onto q288's doc-level
      // competence stages; every COPY gets its own position via the
      // md5(doc:copy) interleave key and the shared sort-free offset
      // arithmetic — the oracle's global-sort window proves it
      (s, d) => graft.ops.TrainingData.epochCurriculumPacking(
        T(s, d, "documents")),
      Some(curriculumCtes + ",\n" +
        """qm AS (SELECT doc_id,
          |  round((
          |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
          |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
          |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
          |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
          |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
          |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio
          | FROM documents),
          |qe AS (SELECT doc_id,
          |   CAST(CASE WHEN least(9, CAST(floor(stopword_ratio * 10) AS BIGINT)) >= 2 THEN 3
          |     WHEN least(9, CAST(floor(stopword_ratio * 10) AS BIGINT)) >= 1 THEN 2
          |     ELSE 1 END AS BIGINT) AS epochs
          |  FROM qm),
          |copies AS (SELECT doc_id, epochs, CAST(copy AS BIGINT) AS copy,
          |   md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR)) AS order_key
          |  FROM (SELECT doc_id, epochs, unnest(range(1, epochs + 1)) AS copy FROM qe)),
          |cb AS (SELECT c.doc_id, c.copy, c.epochs, bs.stage, bs.n_tokens,
          |   c.order_key
          |  FROM copies c JOIN bs USING (doc_id))
          |SELECT doc_id, copy, epochs, CAST(stage AS BIGINT) AS stage,
          |  n_tokens,
          |  CAST(row_number() OVER w AS BIGINT) AS pos,
          |  CAST(coalesce(sum(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED
          |    PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
          |  CAST(coalesce(sum(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED
          |    PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS bin
          |FROM cb WINDOW w AS (ORDER BY stage, order_key, doc_id, copy)""".stripMargin)),

    Q("q296_epsilon_ledger",
      // DP composition accounting over a four-emit release series: two
      // q278 histogram releases on the `lang` domain (sequential
      // composition — their epsilons SUM), one on (lang, source), one on
      // `source`; the ledger rolls spend/remaining/exhausted per domain
      // against a 4·ln2 budget
      (s, d) => {
        val docs = T(s, d, "documents")
        def emit(domain: String, quasi: Seq[Column]) =
          graft.ops.Privacy.dpHistogram(docs, quasi)
            .agg(count(lit(1)).as("n_classes"),
              max(col("epsilon_u")).as("epsilon_u"),
              max(col("sensitivity")).as("sensitivity"))
            .select(lit(domain).as("domain"), col("n_classes"),
              col("epsilon_u"), col("sensitivity"))
        val series = emit("lang", Seq(col("lang").as("lang")))
          .unionByName(emit("lang", Seq(col("lang").as("lang"))))
          .unionByName(emit("lang:source",
            Seq(col("lang").as("lang"), col("source").as("source"))))
          .unionByName(emit("source", Seq(col("source").as("source"))))
        graft.ops.Privacy.epsilonLedger(series)
      },
      Some("""WITH r AS (
             |  SELECT 'lang' AS domain,
             |    (SELECT count(DISTINCT lang) FROM documents) AS n_classes
             |  UNION ALL SELECT 'lang',
             |    (SELECT count(DISTINCT lang) FROM documents)
             |  UNION ALL SELECT 'lang:source',
             |    (SELECT count(*) FROM (SELECT DISTINCT lang, source
             |      FROM documents))
             |  UNION ALL SELECT 'source',
             |    (SELECT count(DISTINCT source) FROM documents))
             |SELECT domain, CAST(count(*) AS BIGINT) AS n_releases,
             |  CAST(sum(n_classes) AS BIGINT) AS n_classes,
             |  CAST(count(*) * 693147 AS BIGINT) AS spent_u,
             |  CAST(1 AS BIGINT) AS max_sensitivity,
             |  CAST(2772588 AS BIGINT) AS budget_u,
             |  CAST(greatest(2772588 - count(*) * 693147, 0) AS BIGINT)
             |    AS remaining_u,
             |  count(*) * 693147 >= 2772588 AS exhausted
             |FROM r GROUP BY domain""".stripMargin)),

    Q("q298_ivfpq_staleness",
      // q290's staleness shape over the VECTOR index + the codebook-drift
      // gauge: index built on an old snapshot (% 11 absent; % 13 vectors
      // sign-flipped since indexing), current corpus = % 7 <> 0 — counts
      // unindexed arrivals / orphaned departures / recoded vectors under
      // the persisted codebooks, and per-cell ||current-members mean −
      // persisted coarse centroid||² as total/max drift
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val old = emb.filter(col("vec_id") % 11 =!= 0)
          .withColumn("embedding", when(col("vec_id") % 13 === 0,
            transform(col("embedding"), x => -x))
            .otherwise(col("embedding")))
        val idx = graft.ops.Quantize.ivfPqIndex(old, nCells = 8, m = 16,
          k = 32, rounds = 2, dim = 64)
        graft.ops.Quantize.ivfPqStaleness(idx,
          emb.filter(col("vec_id") % 7 =!= 0))
      },
      Some("""WITH oldemb AS (SELECT vec_id,
             |   CASE WHEN vec_id % 13 = 0
             |     THEN list_transform(embedding, x -> -x)
             |     ELSE embedding END AS embedding
             |  FROM embeddings WHERE vec_id % 11 <> 0),
             |""".stripMargin +
        ivfPqIndexCtesFrom("oldemb").stripPrefix("WITH ") + ",\n" +
        ivfPqAssignCtes("u", "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0)") + ",\n" +
        """op AS (SELECT vec_id, cell AS old_cell FROM vc),
          |cp AS (SELECT vec_id, max(cell) AS cur_cell FROM ucodes GROUP BY 1),
          |cd AS (SELECT o.vec_id,
          |   sum(CASE WHEN o.cid <> u.cid THEN 1 ELSE 0 END) AS n_code_diff
          |  FROM codes o JOIN ucodes u ON u.vec_id = o.vec_id
          |   AND u.sub = o.sub GROUP BY 1),
          |st AS (SELECT CASE WHEN op.old_cell IS NULL THEN 'unindexed'
          |    WHEN cp.cur_cell IS NULL THEN 'orphaned'
          |    WHEN cp.cur_cell <> op.old_cell
          |      OR coalesce(cd.n_code_diff, 0) > 0 THEN 'recoded'
          |    ELSE 'fresh' END AS status
          |  FROM cp FULL OUTER JOIN op ON op.vec_id = cp.vec_id
          |  LEFT JOIN cd ON cd.vec_id = coalesce(cp.vec_id, op.vec_id)),
          |cm AS (SELECT v.cell, i.d,
          |   CAST(floor(sum(i.x)::DOUBLE / count(*)) AS BIGINT) AS mx
          |  FROM uiv i JOIN uvc v ON v.vec_id = i.vec_id GROUP BY 1, 2),
          |dr AS (SELECT cm.cell,
          |   sum((cm.mx - c.cx) * (cm.mx - c.cx)) AS cdrift
          |  FROM cm JOIN cc c ON c.cell = cm.cell AND c.d = cm.d
          |  GROUP BY 1),
          |drt AS (SELECT CAST(coalesce(sum(cdrift), 0) AS BIGINT)
          |   AS total_drift,
          |  CAST(coalesce(max(cdrift), 0) AS BIGINT) AS max_cell_drift
          |  FROM dr)
          |SELECT
          |  CAST(sum(CASE WHEN status <> 'orphaned' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_corpus,
          |  CAST(sum(CASE WHEN status <> 'unindexed' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_index,
          |  CAST(sum(CASE WHEN status = 'fresh' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_fresh,
          |  CAST(sum(CASE WHEN status = 'unindexed' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_unindexed,
          |  CAST(sum(CASE WHEN status = 'orphaned' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_orphaned,
          |  CAST(sum(CASE WHEN status = 'recoded' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_recoded,
          |  CAST(sum(CASE WHEN status = 'fresh' THEN 1 ELSE 0 END) * 1000000
          |    // sum(CASE WHEN status <> 'orphaned' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS coverage_u,
          |  drt.total_drift, drt.max_cell_drift
          |FROM st, drt
          |GROUP BY drt.total_drift, drt.max_cell_drift""".stripMargin)),

    Q("q299_ivfpq_append",
      // append-only index maintenance under FROZEN codebooks: the % 11
      // arrivals encode against the persisted coarse/residual codebooks
      // and union with the kept codes; the oracle re-encodes the WHOLE
      // current corpus under the same codebooks — codes are a pure
      // function of (vector, codebooks), so increment ≡ full re-encode
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val old = emb.filter(col("vec_id") % 11 =!= 0)
        val idx = graft.ops.Quantize.ivfPqIndex(old, nCells = 8, m = 16,
          k = 32, rounds = 2, dim = 64)
        val kept = idx.codes.join(idx.vcell, Seq("vec_id"))
          .select(col("cell"), col("vec_id"), col("sub"), col("cid"))
        val delta = graft.ops.Quantize.ivfPqEncode(
          emb.filter(col("vec_id") % 11 === 0), idx.coarse, idx.cents,
          idx.subDim)
        kept.unionByName(delta)
      },
      Some("""WITH oldemb AS (SELECT vec_id, embedding FROM embeddings
             |  WHERE vec_id % 11 <> 0),
             |""".stripMargin +
        ivfPqIndexCtesFrom("oldemb").stripPrefix("WITH ") + ",\n" +
        ivfPqAssignCtes("u", "embeddings") + "\n" +
        "SELECT cell, vec_id, sub, cid FROM ucodes")),

    Q("q300_attention_spans",
      // the per-BIN view of q291's packed manifest — the relation a
      // dataloader masks cross-document attention with: per bin, the doc
      // segments occupying it with in-bin [seg_start, seg_end) offsets
      // and starts/ends flags; straddling docs emit one row per crossed
      // bin (a bounded sequence explode over the packed relation)
      (s, d) => graft.ops.TrainingData.packedAttentionSpans(
        T(s, d, "documents")),
      Some(curriculumCtes + ",\n" +
        """pk AS (SELECT doc_id, n_tokens,
          |   CAST(coalesce(sum(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED
          |     PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
          |  FROM bs WINDOW w AS (ORDER BY stage, mm, doc_id)),
          |sp AS (SELECT doc_id, start_offset,
          |   start_offset + n_tokens AS end_offset,
          |   unnest(generate_series(start_offset // 2048,
          |     (start_offset + n_tokens - 1) // 2048)) AS bin
          |  FROM pk)
          |SELECT CAST(bin AS BIGINT) AS bin, doc_id,
          |  CAST(greatest(start_offset, bin * 2048) - bin * 2048 AS BIGINT)
          |    AS seg_start,
          |  CAST(least(end_offset, (bin + 1) * 2048) - bin * 2048 AS BIGINT)
          |    AS seg_end,
          |  start_offset >= bin * 2048 AS starts_here,
          |  end_offset <= (bin + 1) * 2048 AS ends_here
          |FROM sp""".stripMargin)),

    Q("q301_repetition_mask",
      // dedup at the LOSS level: q280's maximal duplicated extents rolled
      // to a per-doc masking plan — extent count, interval-UNION masked
      // char mass (window-wide extents from distinct islands can
      // overlap), masked fraction; query-anchored (clean docs get zeros)
      (s, d) => graft.ops.Dedup.repetitionMask(T(s, d, "documents"),
        64, 16),
      Some("WITH " + extentCtes + ",\n" +
        """isl AS (SELECT doc_id, start_pos, end_pos,
          |   CASE WHEN max(end_pos) OVER (PARTITION BY doc_id
          |     ORDER BY start_pos ROWS BETWEEN UNBOUNDED PRECEDING
          |     AND 1 PRECEDING) IS NULL
          |    OR start_pos > max(end_pos) OVER (PARTITION BY doc_id
          |     ORDER BY start_pos ROWS BETWEEN UNBOUNDED PRECEDING
          |     AND 1 PRECEDING) + 1 THEN 1 ELSE 0 END AS new_island
          |  FROM ext),
          |isl2 AS (SELECT doc_id, start_pos, end_pos,
          |   sum(new_island) OVER (PARTITION BY doc_id ORDER BY start_pos
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          |  FROM isl),
          |per AS (SELECT doc_id, sum(n_ext) AS n_extents,
          |   sum(island_chars) AS masked_chars FROM (
          |  SELECT doc_id, island,
          |   max(end_pos) - min(start_pos) + 1 AS island_chars,
          |   count(*) AS n_ext
          |  FROM isl2 GROUP BY doc_id, island) GROUP BY doc_id)
          |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
          |  CAST(coalesce(p.n_extents, 0) AS BIGINT) AS n_extents,
          |  CAST(coalesce(p.masked_chars, 0) AS BIGINT) AS masked_chars,
          |  CAST(CASE WHEN length(d.text) > 0
          |    THEN coalesce(p.masked_chars, 0) * 1000000 // length(d.text)
          |    ELSE 0 END AS BIGINT) AS mask_u
          |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""".stripMargin)),

    Q("q297_rag_serve_twin",
      // the q289 fill evaluated through the SERVE-shaped plan: a query
      // relation stream-static-joins the broadcast fused index (one row
      // per query, entries rank-sorted) and the strict-prefix fill runs
      // ROW-LOCALLY via array HOFs — stateless, so the identical plan
      // runs streaming (StreamingSpec drives it micro-batched); evaluated
      // over the batch query set it must hash-match q289's oracle
      (s, d) => {
        val docs = T(s, d, "documents")
        val emb = T(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") % 251 === 0)
          .select(col("vec_id").as("query_id"))
        graft.streaming.RagStream.ragContextStream(queries,
          graft.streaming.RagStream.fusedIndex(docs, emb))
      },
      Some(ragContextOracle)),

    Q("q292_ivfpq_recall",
      // THE serve/no-serve curve for the q275 index: recall@10 and nDCG@10
      // of IVF-PQ vs exact integer-L2 ground truth at nprobe 1/2/4/8 —
      // one training (the q275 IVFADC replay), four probe blocks, the
      // shared Scala-precomputed nDCG discount literals on both engines
      (s, d) => graft.ops.Quantize.ivfPqRecall(T(s, d, "embeddings"),
        nprobes = Seq(1, 2, 4, 8), nCells = 8, m = 16, k = 32, rounds = 2,
        nQueries = 5, topK = 10, dim = 64),
      Some(ivfPqIndexCtes + ",\n" +
        Seq(1, 2, 4, 8).map(np => ivfPqProbeCtes(s"n$np", np))
          .mkString(",\n") + ",\n" +
        s"""exd AS (SELECT qi.vec_id AS query_id, i.vec_id,
           |   sum((i.x - qi.x) * (i.x - qi.x)) AS edist
           |  FROM ivd i JOIN ivd qi ON qi.d = i.d AND qi.vec_id < 5
           |   AND i.vec_id <> qi.vec_id
           |  GROUP BY 1, 2),
           |ex AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY edist, vec_id) AS rk
           |  FROM exd) WHERE rk <= 10),
           |perq AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
           |qx AS (SELECT DISTINCT vec_id AS query_id FROM embeddings
           |  WHERE vec_id < 5),
           |${Seq(1, 2, 4, 8).map(ivfPqEvalCte).mkString(",\n")}
           |SELECT * FROM n1e UNION ALL SELECT * FROM n2e
           |UNION ALL SELECT * FROM n4e UNION ALL SELECT * FROM n8e""".stripMargin)))

  // ------------------------------------------------------- round-12 extensions (batch 3)
  // Hashed-feature importance resampling (DSIR), multi-rater agreement
  // (Krippendorff's alpha), data-constrained scaling (effective epochs),
  // multi-probe LSH recall, BM25 static index pruning, T5 span-corruption
  // manifests, and the DP budget-transition monitor (batch twin of
  // streaming.LedgerStream).

  /** The q40/q41 stopword-ratio SQL fragment (shared by several oracles). */
  private val srSql: String =
    """round((
      |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
      |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
      |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
      |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
      |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
      |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::DOUBLE, 1.0), 6)""".stripMargin

  /** q41's lang-id argmax replayed as a CTE body (doc_id, lang_pred,
    * lang_score) — reused by the Krippendorff rater derivation. */
  private lazy val langIdSql: String = {
    def occ(pat: String): String = {
      val esc = pat.replace("'", "''")
      s"((length(' '||text||' ') - length(replace(' '||text||' ', '$esc', ''))) / ${pat.length})"
    }
    val keys = graft.ops.TextAnalysis.langProfiles.map { case (lang, words) =>
      s"lpad(CAST(CAST(${words.map(occ).mkString(" + ")} AS BIGINT) AS VARCHAR), 10, '0') || '$lang'"
    }.mkString(", ")
    s"""SELECT doc_id,
       | substr(best, 11, 2) AS lang_pred,
       | CAST(substr(best, 1, 10) AS BIGINT) AS lang_score
       |FROM (SELECT doc_id, greatest($keys) AS best FROM documents)""".stripMargin
  }

  /** The shared DSIR oracle chain: hashed-bigram features → the two
    * models → per-doc µ-nat weights → the pool-anchored Gumbel-keyed
    * relation (`keyed`). Reused by q302 (selection), q311 (KL) and q313
    * (bias). */
  private lazy val dsirCtes: String =
    s"""base AS (SELECT doc_id, source,
       |   list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |bg AS (SELECT doc_id, source,
       |   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM base),
       |fb AS (SELECT doc_id, source, ${duckH60("bg")} % 4096 AS b FROM bg),
       |df AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
       |  FROM fb GROUP BY 1, 2, 3),
       |model AS (SELECT b, CAST(sum(c) AS BIGINT) AS cnt_raw,
       |   CAST(sum(CASE WHEN source = 'src7' THEN c ELSE 0 END) AS BIGINT) AS cnt_tgt
       |  FROM df GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt_raw) AS BIGINT) AS n_raw,
       |   CAST(sum(cnt_tgt) AS BIGINT) AS n_tgt FROM model),
       |lam AS (SELECT b,
       |   CAST(floor(ln(CAST(cnt_tgt AS DOUBLE) + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT)
       |   - CAST(floor(ln(CAST(t.n_tgt AS DOUBLE) + 4096) * 1000000) AS BIGINT)
       |   - CAST(floor(ln(CAST(cnt_raw AS DOUBLE) + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT)
       |   + CAST(floor(ln(CAST(t.n_raw AS DOUBLE) + 4096) * 1000000) AS BIGINT) AS lam_u
       |  FROM model, tot t),
       |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |   CAST(sum(c * lam_u) AS BIGINT) AS w_u
       |  FROM df JOIN lam USING (b) GROUP BY 1),
       |anc AS (SELECT d.doc_id, d.source,
       |   CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
       |   CAST(coalesce(p.w_u, 0) AS BIGINT) AS w_u
       |  FROM documents d LEFT JOIN pd p USING (doc_id)),
       |keyed AS (SELECT doc_id, source, n_feats, w_u,
       |   w_u + CAST(floor(-ln(-ln((${duckH60("'dsir:' || doc_id")} % 1000000
       |     + CAST(0.5 AS DOUBLE)) / 1000000)) * 1000000) AS BIGINT) AS key_u
       |  FROM anc),
       |sel AS (SELECT doc_id FROM keyed ORDER BY key_u DESC, doc_id LIMIT 500)""".stripMargin

  private val ext40Qs = Seq(
    Q("q302_dsir_select",
      // DSIR importance resampling: hashed-bigram unigram models (target =
      // src7 slice vs the whole pool), µ-nat log-ratio weights, Gumbel
      // top-k draw — the fixed-size-model data selection next to q233's
      // vocabulary-sized Moore–Lewis
      (s, d) => graft.ops.TrainingData.dsirSelect(T(s, d, "documents"),
        targetSource = "src7", buckets = 4096, k = 500),
      Some(s"""WITH $dsirCtes
              |SELECT doc_id, source, n_feats, w_u, key_u FROM keyed
              |WHERE doc_id IN (SELECT doc_id FROM sel)""".stripMargin)),

    Q("q303_krippendorff_alpha",
      // nominal-scale Krippendorff's alpha across three labelers (lang
      // metadata / q41 content heuristic, abstaining on zero evidence /
      // source-majority prior) — exact integer coincidence arithmetic
      (s, d) => graft.ops.Classifier.krippendorffAlpha(T(s, d, "documents")),
      Some(s"""WITH lid AS ($langIdSql),
              |r AS (SELECT doc_id, lang AS cat FROM documents
              |  UNION ALL SELECT doc_id, lang_pred AS cat FROM lid WHERE lang_score > 0
              |  UNION ALL SELECT d.doc_id, sm.cat FROM documents d JOIN (
              |    SELECT source, lang AS cat FROM (
              |      SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2)
              |    QUALIFY row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) = 1) sm
              |    USING (source)),
              |uc AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS nuc FROM r GROUP BY 1, 2),
              |un AS (SELECT doc_id, CAST(sum(nuc) AS BIGINT) AS mu,
              |   CAST(sum(nuc * nuc) AS BIGINT) AS ssq
              |  FROM uc GROUP BY 1 HAVING sum(nuc) >= 2),
              |da AS (SELECT CAST(count(*) AS BIGINT) AS n_pairable,
              |   CAST(sum(2 * (mu * mu - ssq) // (mu - 1)) AS BIGINT) AS o_off_2x FROM un),
              |nc AS (SELECT cat, CAST(sum(nuc) AS BIGINT) AS nc
              |  FROM uc JOIN un USING (doc_id) GROUP BY 1),
              |tot AS (SELECT CAST(sum(nc) AS BIGINT) AS n_ratings,
              |   CAST(count(*) AS BIGINT) AS n_categories,
              |   CAST(sum(nc * nc) AS BIGINT) AS ssq_c FROM nc),
              |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM documents)
              |SELECT n_units, n_pairable, n_ratings, n_categories, o_off_2x, de_pairs,
              |  dis_u, CAST(2000000 - dis_u AS BIGINT) AS alpha_p1_u
              |FROM (SELECT *,
              |  CASE WHEN de_pairs > 0 THEN
              |    CAST(CAST(o_off_2x AS HUGEINT) * (n_ratings - 1) * 1000000
              |      // (2 * de_pairs) AS BIGINT) END AS dis_u
              |  FROM (SELECT n_units, n_pairable, n_ratings, n_categories, o_off_2x,
              |    n_ratings * n_ratings - ssq_c AS de_pairs
              |   FROM nu, da, tot))""".stripMargin)),

    Q("q304_effective_epochs",
      // Muennighoff data-constrained scaling: per-source effective token
      // yield of the quality-staged epoch plan under the exp-decay law,
      // decay factors as shared Scala-precomputed literals
      (s, d) => graft.ops.TrainingData.effectiveEpochs(T(s, d, "documents")),
      Some {
        def f(r: Int): Long = graft.ops.TrainingData.effectiveTokensU(r)
        val effCase = s"CASE epochs WHEN 1 THEN ${f(0)} WHEN 2 THEN ${f(1)} " +
          s"WHEN 3 THEN ${f(2)} ELSE ${f(3)} END"
        val margCase = s"CASE epochs WHEN 1 THEN ${f(1) - f(0)} " +
          s"WHEN 2 THEN ${f(2) - f(1)} WHEN 3 THEN ${f(3) - f(2)} " +
          s"ELSE ${f(4) - f(3)} END"
        s"""WITH m AS (SELECT source, md5(text) AS h,
           |   CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           |   CAST(floor($srSql * 1000000) AS BIGINT) AS sr_u
           |  FROM documents),
           |u AS (SELECT source, h, CAST(count(*) AS BIGINT) AS mm,
           |   max(n_tokens) AS n_tokens, max(sr_u) AS sr_u
           |  FROM m GROUP BY 1, 2),
           |ps AS (SELECT source, CAST(sum(mm) AS BIGINT) AS n_docs,
           |   CAST(count(*) AS BIGINT) AS unique_docs,
           |   CAST(sum(n_tokens) AS BIGINT) AS unique_tokens,
           |   CAST(sum(sr_u) AS BIGINT) AS sum_sr_u
           |  FROM u GROUP BY 1),
           |e2 AS (SELECT source, n_docs, unique_docs, unique_tokens,
           |   CAST(CASE WHEN mil >= 66 THEN 4 WHEN mil >= 55 THEN 2 ELSE 1 END AS BIGINT) AS epochs
           |  FROM (SELECT *, sum_sr_u // unique_docs // 1000 AS mil FROM ps))
           |SELECT source, n_docs, unique_docs, unique_tokens, epochs, raw_tokens,
           |  eff_u, effective_tokens, marginal_next_u,
           |  CAST(CAST(effective_tokens AS HUGEINT) * 1000000 // raw_tokens AS BIGINT) AS utilization_u
           |FROM (SELECT *,
           |   CAST(CAST(unique_tokens AS HUGEINT) * eff_u // 1000000 AS BIGINT) AS effective_tokens
           |  FROM (SELECT source, n_docs, unique_docs, unique_tokens, epochs,
           |    unique_tokens * epochs AS raw_tokens,
           |    CAST($effCase AS BIGINT) AS eff_u,
           |    CAST($margCase AS BIGINT) AS marginal_next_u
           |   FROM e2))""".stripMargin
      }),

    Q("q305_multiprobe_lsh",
      // multi-probe LSH recall curve: one signature pass, extra recall
      // bought by probing the lowest-margin flipped buckets — recall@10
      // and candidate volume per nprobe vs the exact cosine ground truth
      (s, d) => graft.ops.Similarity.multiprobeRecall(T(s, d, "embeddings"),
        nProbes = Seq(1, 2, 4), nPlanes = 6, dim = 64, k = 10, nQueries = 5),
      Some {
        val blocks = Seq(1, 2, 4).map { np =>
          s"""b$np AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
             |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
             |  FROM ccos WHERE probe_rank < $np) WHERE rk <= 10),
             |c$np AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand
             |  FROM cand WHERE probe_rank < $np GROUP BY 1),
             |h$np AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit
             |  FROM ex JOIN b$np USING (query_id, vec_id) GROUP BY 1),
             |en$np AS (SELECT CAST($np AS BIGINT) AS nprobe, p.query_id,
             |   CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_cand, p.n_exact,
             |   CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             |   CAST(coalesce(h.n_hit, 0) * 1000000 // p.n_exact AS BIGINT) AS recall_u
             |  FROM perq p LEFT JOIN c$np c USING (query_id)
             |  LEFT JOIN h$np h USING (query_id))""".stripMargin
        }.mkString(",\n")
        s"""WITH $multiprobeCtes,
           |$blocks
           |SELECT * FROM en1 UNION ALL SELECT * FROM en2 UNION ALL SELECT * FROM en4""".stripMargin
      }),

    Q("q306_impact_index",
      // static pruning of the impact-ordered BM25 index: recall@5 of the
      // top-4-postings-per-term index vs the full q154 ranking, with the
      // index-size gauge the pruning buys (keepTop = 4 binds at sf0.01,
      // where the banded df tops out at 7)
      (s, d) => graft.ops.Retrieval.impactIndexRecall(T(s, d, "documents"),
        keepTop = 4, queryStride = 251, topK = 5),
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
             |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> x <> '') AS tl FROM documents)),
             |toks AS (
             |  SELECT doc_id,
             |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
             |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |sl AS (SELECT CAST(sum(tf) AS BIGINT) AS sl FROM tf),
             |idf AS (SELECT tok,
             |    CAST(floor(ln(CAST(1.0 AS DOUBLE) + (n.n - df + CAST(0.5 AS DOUBLE))
             |      / (df + CAST(0.5 AS DOUBLE))) * 1000000) AS BIGINT) AS idf_u
             |  FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1) d, n
             |  WHERE df >= 2 AND df * 2 <= n.n),
             |post AS (SELECT t.tok, t.doc_id,
             |    CAST(i.idf_u * CAST(floor((t.tf * CAST(2.2 AS DOUBLE)
             |      / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |        + CAST(0.75 AS DOUBLE) * ((l.len * n.n) / sl.sl)))) * 1000000) AS BIGINT)
             |      AS BIGINT) AS impact_u
             |  FROM tf t JOIN len l ON l.doc_id = t.doc_id
             |  JOIN idf i ON i.tok = t.tok, n, sl),
             |pruned AS (SELECT tok, doc_id, impact_u FROM (SELECT *,
             |   row_number() OVER (PARTITION BY tok ORDER BY impact_u DESC, doc_id) AS rk
             |  FROM post) WHERE rk <= 4),
             |q AS (SELECT t.doc_id AS query_id, t.tok
             |  FROM tf t JOIN idf i ON i.tok = t.tok WHERE t.doc_id % 251 = 0),
             |fsc AS (SELECT q.query_id, p.doc_id, CAST(sum(p.impact_u) AS BIGINT) AS score_u
             |  FROM q JOIN post p ON p.tok = q.tok GROUP BY 1, 2),
             |fullk AS (SELECT query_id, doc_id FROM (SELECT *,
             |   row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS rk
             |  FROM fsc) WHERE rk <= 5),
             |psc AS (SELECT q.query_id, p.doc_id, CAST(sum(p.impact_u) AS BIGINT) AS score_u
             |  FROM q JOIN pruned p ON p.tok = q.tok GROUP BY 1, 2),
             |prunedk AS (SELECT query_id, doc_id FROM (SELECT *,
             |   row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS rk
             |  FROM psc) WHERE rk <= 5),
             |pq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_full FROM fullk GROUP BY 1),
             |ht AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit
             |  FROM fullk JOIN prunedk USING (query_id, doc_id) GROUP BY 1)
             |SELECT p.query_id, p.n_full,
             |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             |  CAST(coalesce(h.n_hit, 0) * 1000000 // p.n_full AS BIGINT) AS recall_u,
             |  (SELECT CAST(count(*) AS BIGINT) FROM post) AS full_postings,
             |  (SELECT CAST(count(*) AS BIGINT) FROM pruned) AS kept_postings
             |FROM pq p LEFT JOIN ht h USING (query_id)""".stripMargin)),

    Q("q307_span_corruption",
      // T5-style span-corruption manifest: md5-coined per-block masks,
      // sentinel-accounted encoder/decoder lengths, corpus-anchored
      (s, d) => graft.ops.TrainingData.spanCorruption(T(s, d, "documents"),
        block = 16, span = 3, noisePct = 45),
      Some(s"""WITH base AS (SELECT doc_id,
              |   CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
              |  FROM documents),
              |blocks AS (SELECT doc_id, unnest(range(n_tokens // 16)) AS blk
              |  FROM base WHERE n_tokens >= 16),
              |sp AS (SELECT doc_id,
              |   blk * 16 + ${duckH60("'spanpos:' || doc_id || ':' || blk")} % 14 AS span_start
              |  FROM blocks WHERE ${duckH60("'span:' || doc_id || ':' || blk")} % 100 < 45),
              |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
              |   CAST(min(span_start) AS BIGINT) AS first_span FROM sp GROUP BY 1)
              |SELECT doc_id, n_tokens, n_blocks, n_spans, masked_tokens,
              |  n_tokens - masked_tokens + n_spans AS input_len,
              |  CASE WHEN n_spans > 0 THEN masked_tokens + n_spans + 1
              |    ELSE 0 END AS target_len,
              |  CASE WHEN n_tokens > 0 THEN masked_tokens * 1000000 // n_tokens
              |    ELSE 0 END AS corruption_u,
              |  first_span
              |FROM (SELECT b.doc_id, b.n_tokens, b.n_tokens // 16 AS n_blocks,
              |   CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
              |   CAST(coalesce(p.n_spans, 0) * 3 AS BIGINT) AS masked_tokens,
              |   p.first_span
              |  FROM base b LEFT JOIN per p USING (doc_id))""".stripMargin)),

    Q("q308_budget_transitions",
      // the event-level DP ledger: a synthetic release series (one emit
      // per (lang, source), ε = ln 2 each) rolled to per-release running
      // spend with the crossing alarm — the batch twin LedgerStream's
      // stream≡batch spec replays
      (s, d) => {
        val docs = T(s, d, "documents")
        val w = Window.partitionBy(col("lang")).orderBy(col("source"))
        val releases = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_classes"))
          .select(col("lang").as("domain"),
            row_number().over(w).cast("long").as("seq"),
            lit(693147L).as("epsilon_u"), col("n_classes"))
        graft.ops.Privacy.budgetTransitions(releases)
      },
      Some("""WITH g AS (SELECT lang AS domain, source,
             |   CAST(count(*) AS BIGINT) AS n_classes FROM documents GROUP BY 1, 2),
             |r AS (SELECT domain,
             |   CAST(row_number() OVER (PARTITION BY domain ORDER BY source) AS BIGINT) AS seq,
             |   CAST(693147 AS BIGINT) AS epsilon_u, n_classes FROM g),
             |t AS (SELECT domain, seq, epsilon_u, n_classes,
             |   CAST(sum(epsilon_u) OVER (PARTITION BY domain ORDER BY seq) AS BIGINT) AS spent_u
             |  FROM r)
             |SELECT domain, seq, epsilon_u, n_classes, spent_u,
             |  CAST(greatest(2772588 - spent_u, 0) AS BIGINT) AS remaining_u,
             |  spent_u >= 2772588 AS exhausted,
             |  spent_u >= 2772588 AND spent_u - epsilon_u < 2772588 AS crossed
             |FROM t""".stripMargin)))

  // ------------------------------------------------------- round-12 extensions (batch 4)
  // Lexical index lifecycle (staleness + frozen-statistics append — the
  // BM25 twins of the q298/q299 IVF-PQ pair), DSIR's own quality metric
  // (KL reduction) and its bias audit, and the streaming ANN serve twin.

  /** The q154/q306 BM25 idf chain, prefixed, over an arbitrary docs
    * relation — reused by the two index-lifecycle oracles. */
  private def bm25IdfCtes(p: String, docsRel: String): String =
    s"""${p}words AS (SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> x <> '') AS tl FROM $docsRel)),
       |${p}toks AS (SELECT doc_id,
       |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
       |  FROM ${p}words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
       |${p}tf AS (SELECT doc_id, tok, count(*) AS tf FROM ${p}toks GROUP BY 1, 2),
       |${p}nn AS (SELECT count(*) AS n FROM $docsRel),
       |${p}idf AS (SELECT tok,
       |    CAST(floor(ln(CAST(1.0 AS DOUBLE) + (n.n - df + CAST(0.5 AS DOUBLE))
       |      / (df + CAST(0.5 AS DOUBLE))) * 1000000) AS BIGINT) AS idf_u
       |  FROM (SELECT tok, count(*) AS df FROM ${p}tf GROUP BY 1) d, ${p}nn n
       |  WHERE df >= 2 AND df * 2 <= n.n)""".stripMargin

  private def klLg(c: String): String =
    s"CAST(floor(ln(CAST($c AS DOUBLE) + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT)"
  private def klLgN(n: String): String =
    s"CAST(floor(ln(CAST($n AS DOUBLE) + 4096) * 1000000) AS BIGINT)"

  /** Shared q305/q316/q318 multi-probe CTE base: signatures, exact cosine
    * ground truth (`ex`, `perq`), the probe relation and the candidate
    * cosines (`ccos`) per probe rank — parameterized by the query-set
    * predicate and the max flip count (q305/q316 sweep probes 1..4 over
    * the vec_id < 5 set; q318 serves nprobe = 2 over the % 251 stride). */
  private def multiprobeCtesFor(qPred: String, maxFlips: Int): String =
    s"""f AS (SELECT vec_id, unnest(embedding) AS v,
      |   generate_subscripts(embedding, 1) AS i FROM embeddings),
      |fi AS (SELECT vec_id, i,
      |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS iv FROM f),
      |planes AS (SELECT p, d,
      |   (list_sum(list_transform(range(15), j ->
      |      CAST(strpos('0123456789abcdef', substr(md5(p || ':' || d), CAST(j + 1 AS INT), 1)) - 1
      |        AS BIGINT) * (1::BIGINT << CAST(4 * (14 - j) AS INT)))) % 2001) - 1000 AS h
      |  FROM range(6) t(p), range(64) s(d)),
      |proj AS (SELECT fi.vec_id, pl.p, sum(fi.iv * pl.h) AS pr
      |  FROM fi JOIN planes pl ON pl.d = fi.i - 1 GROUP BY 1, 2),
      |sig AS (SELECT vec_id,
      |   CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS sig
      |  FROM proj GROUP BY 1),
      |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
      |exdots AS (SELECT q.query_id, f2.vec_id, sum(CAST(q.qv AS DOUBLE) * f2.v) AS dp
      |  FROM (SELECT vec_id AS query_id, v AS qv, i FROM f WHERE $qPred) q
      |  JOIN f f2 ON f2.i = q.i WHERE f2.vec_id <> q.query_id GROUP BY 1, 2),
      |excos AS (SELECT d.query_id, d.vec_id, round(d.dp / (nq.nrm * nc2.nrm), 6) AS cos
      |  FROM exdots d JOIN norms nq ON nq.vec_id = d.query_id
      |  JOIN norms nc2 ON nc2.vec_id = d.vec_id),
      |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM excos) WHERE rk <= 10),
      |perq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM ex GROUP BY 1),
      |qs AS (SELECT vec_id AS query_id, sig AS base FROM sig WHERE $qPred),
      |fl AS (SELECT m.query_id, CAST(m.mrank AS BIGINT) AS probe_rank,
      |   xor(q2.base, 1::BIGINT << CAST(m.p AS INT)) AS psig
      |  FROM (SELECT vec_id AS query_id, p,
      |     row_number() OVER (PARTITION BY vec_id ORDER BY abs(pr), p) AS mrank
      |    FROM proj WHERE $qPred) m
      |  JOIN qs q2 USING (query_id) WHERE m.mrank <= $maxFlips),
      |probes AS (SELECT query_id, CAST(0 AS BIGINT) AS probe_rank, base AS psig FROM qs
      |  UNION ALL SELECT query_id, probe_rank, psig FROM fl),
      |cand AS (SELECT pr2.query_id, pr2.probe_rank, cs.vec_id
      |  FROM probes pr2 JOIN sig cs ON cs.sig = pr2.psig AND cs.vec_id <> pr2.query_id),
      |cdots AS (SELECT c.query_id, c.probe_rank, c.vec_id,
      |   sum(CAST(fq.v AS DOUBLE) * fc.v) AS dp
      |  FROM cand c JOIN f fq ON fq.vec_id = c.query_id
      |  JOIN f fc ON fc.vec_id = c.vec_id AND fc.i = fq.i
      |  GROUP BY 1, 2, 3),
      |ccos AS (SELECT d.query_id, d.probe_rank, d.vec_id,
      |   round(d.dp / (nq.nrm * nc2.nrm), 6) AS cos
      |  FROM cdots d JOIN norms nq ON nq.vec_id = d.query_id
      |  JOIN norms nc2 ON nc2.vec_id = d.vec_id)""".stripMargin

  private lazy val multiprobeCtes: String =
    multiprobeCtesFor("vec_id < 5", 3)

  private val ext41Qs = Seq(
    Q("q309_impact_staleness",
      // the lexical index built from a MUTATED old snapshot vs the current
      // corpus: %13 docs carried a since-removed boilerplate suffix (those
      // grams are `gone`), %17 docs were since expanded from 3-token stubs
      // (their grams' df moved → `drifted`; df-band re-entries → `new`);
      // untouched terms stay `fresh` because the doc COUNT is unchanged.
      // Doc-membership axes read zero here (same id set) — the planted
      // spec exercises them
      (s, d) => {
        val docs = T(s, d, "documents")
        val t3 = array_join(slice(filter(split(col("text"), "\\s+"),
          x => x =!= ""), 1, 3), " ")
        val old = docs.withColumn("text",
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" zz yy xx zz yy xx")))
            .when(col("doc_id") % 17 === 0, t3)
            .otherwise(col("text")))
        graft.ops.Retrieval.impactStaleness(old, docs)
      },
      Some("""WITH olddocs AS (SELECT doc_id,
             |   CASE WHEN doc_id % 13 = 0 THEN text || ' zz yy xx zz yy xx'
             |    WHEN doc_id % 17 = 0 THEN array_to_string(
             |      list_filter(string_split_regex(text, '\s+'), x -> x <> '')[1:3], ' ')
             |    ELSE text END AS text
             |  FROM documents),
             |""".stripMargin +
        bm25IdfCtes("o", "olddocs") + ",\n" +
        bm25IdfCtes("c", "documents") + ",\n" +
        """t AS (SELECT CASE WHEN o.idf_u IS NULL THEN 'new'
          |    WHEN c.idf_u IS NULL THEN 'gone'
          |    WHEN o.idf_u = c.idf_u THEN 'fresh' ELSE 'drifted' END AS status,
          |   abs(coalesce(c.idf_u, 0) - coalesce(o.idf_u, 0)) AS drift
          |  FROM oidf o FULL OUTER JOIN cidf c USING (tok)),
          |ta AS (SELECT
          |   CAST(sum(CASE WHEN status <> 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_index,
          |   CAST(sum(CASE WHEN status <> 'gone' THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_current,
          |   CAST(sum(CASE WHEN status = 'fresh' THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_fresh,
          |   CAST(sum(CASE WHEN status = 'drifted' THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_drifted,
          |   CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_new,
          |   CAST(sum(CASE WHEN status = 'gone' THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_gone,
          |   CAST(sum(drift) AS BIGINT) AS idf_drift_total
          |  FROM t),
          |da AS (SELECT
          |   CAST(sum(CASE WHEN o.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_unindexed,
          |   CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_orphaned
          |  FROM (SELECT doc_id FROM olddocs) o
          |  FULL OUTER JOIN (SELECT doc_id FROM documents) c USING (doc_id))
          |SELECT ta.*, da.* FROM ta, da""".stripMargin)),

    Q("q310_impact_append",
      // append-only impact-index maintenance: %11 arrivals encode under
      // the persisted idf/N/Σlen; the oracle re-encodes the WHOLE current
      // corpus under the same frozen statistics — impacts are a pure
      // function of (doc, frozen stats), so increment ≡ full re-encode
      (s, d) => {
        val docs = T(s, d, "documents")
        // the index build is the rebuild-cadence pass; the APPEND call
        // itself sees only the persisted artifacts + the arrivals delta
        val idx = graft.ops.Retrieval.impactIndexBuild(
          docs.filter(col("doc_id") % 11 =!= 0))
        graft.ops.Retrieval.impactAppend(idx,
          docs.filter(col("doc_id") % 11 === 0))
      },
      Some("""WITH olddocs AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id % 11 <> 0),
             |""".stripMargin +
        bm25IdfCtes("o", "olddocs") + ",\n" +
        """osl AS (SELECT CAST(sum(tf) AS BIGINT) AS sl FROM otf),
          |cwords AS (SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
          |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
          |    x -> x <> '') AS tl FROM documents)),
          |ctoks AS (SELECT doc_id,
          |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
          |  FROM cwords WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
          |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
          |ctf AS (SELECT doc_id, tok, count(*) AS tf FROM ctoks GROUP BY 1, 2),
          |clen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM ctf GROUP BY 1)
          |SELECT t.tok, t.doc_id,
          |  CAST(i.idf_u * CAST(floor((t.tf * CAST(2.2 AS DOUBLE)
          |    / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
          |      + CAST(0.75 AS DOUBLE) * ((l.len * n.n) / sl.sl)))) * 1000000) AS BIGINT)
          |    AS BIGINT) AS impact_u
          |FROM ctf t JOIN clen l ON l.doc_id = t.doc_id
          |JOIN oidf i ON i.tok = t.tok, onn n, osl sl""".stripMargin)),

    Q("q311_dsir_kl",
      // DSIR's own quality number: KL(target ‖ pool) − KL(target ‖
      // selected) over the hashed-feature space, exact-integer with the
      // unseen-bucket remainder in closed form
      (s, d) => graft.ops.TrainingData.dsirKl(T(s, d, "documents"),
        targetSource = "src7", buckets = 4096, k = 500),
      Some(s"""WITH $dsirCtes,
              |selm AS (SELECT b, CAST(sum(c) AS BIGINT) AS cnt_sel
              |  FROM df JOIN sel USING (doc_id) GROUP BY 1),
              |m AS (SELECT model.b, cnt_raw, cnt_tgt,
              |   CAST(coalesce(s.cnt_sel, 0) AS BIGINT) AS cnt_sel
              |  FROM model LEFT JOIN selm s USING (b)),
              |t2 AS (SELECT CAST(sum(cnt_raw) AS BIGINT) AS n_raw,
              |   CAST(sum(cnt_tgt) AS BIGINT) AS n_tgt,
              |   CAST(sum(cnt_sel) AS BIGINT) AS n_sel,
              |   CAST(count(*) AS BIGINT) AS n_b FROM m),
              |terms AS (SELECT
              |   CAST(sum((cnt_tgt + 1) * ((${klLg("cnt_tgt")} - ${klLgN("t2.n_tgt")})
              |     - (${klLg("cnt_raw")} - ${klLgN("t2.n_raw")}))) AS BIGINT) AS sum_raw,
              |   CAST(sum((cnt_tgt + 1) * ((${klLg("cnt_tgt")} - ${klLgN("t2.n_tgt")})
              |     - (${klLg("cnt_sel")} - ${klLgN("t2.n_sel")}))) AS BIGINT) AS sum_sel
              |  FROM m, t2)
              |SELECT n_target_mass, n_selected_mass, n_buckets_observed,
              |  kl_raw_u, kl_selected_u,
              |  kl_raw_u - kl_selected_u AS reduction_u
              |FROM (SELECT t2.n_tgt AS n_target_mass, t2.n_sel AS n_selected_mass,
              |   t2.n_b AS n_buckets_observed,
              |   CAST(greatest(sum_raw + (4096 - t2.n_b)
              |      * (${klLgN("t2.n_raw")} - ${klLgN("t2.n_tgt")}), 0)
              |     // (t2.n_tgt + 4096) AS BIGINT) AS kl_raw_u,
              |   CAST(greatest(sum_sel + (4096 - t2.n_b)
              |      * (${klLgN("t2.n_sel")} - ${klLgN("t2.n_tgt")}), 0)
              |     // (t2.n_tgt + 4096) AS BIGINT) AS kl_selected_u
              |  FROM terms, t2)""".stripMargin)),

    Q("q312_ann_serve_twin",
      // the q305 multi-probe index through the SERVE-shaped plan: query
      // vectors against the bucket-grouped signature index via a
      // stream-static join + per-query group merge, exact integer-L2
      // rerank — stateless per event, so the identical plan runs streaming
      // (StreamingSpec drives it micro-batched); evaluated over the batch
      // query set it must hash-match this oracle
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") % 251 === 0)
          .select(col("vec_id").as("query_id"), col("embedding"))
        graft.streaming.AnnStream.annServeStream(s, queries,
          graft.streaming.AnnStream.sigIndex(emb, 6, 64),
          nPlanes = 6, nProbe = 2, dim = 64, k = 10).toDF()
      },
      Some("""WITH f AS (SELECT vec_id, unnest(embedding) AS v,
             |   generate_subscripts(embedding, 1) AS i FROM embeddings),
             |fi AS (SELECT vec_id, i,
             |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS iv FROM f),
             |planes AS (SELECT p, d,
             |   (list_sum(list_transform(range(15), j ->
             |      CAST(strpos('0123456789abcdef', substr(md5(p || ':' || d), CAST(j + 1 AS INT), 1)) - 1
             |        AS BIGINT) * (1::BIGINT << CAST(4 * (14 - j) AS INT)))) % 2001) - 1000 AS h
             |  FROM range(6) t(p), range(64) s(d)),
             |proj AS (SELECT fi.vec_id, pl.p, sum(fi.iv * pl.h) AS pr
             |  FROM fi JOIN planes pl ON pl.d = fi.i - 1 GROUP BY 1, 2),
             |sig AS (SELECT vec_id,
             |   CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS sig
             |  FROM proj GROUP BY 1),
             |qs AS (SELECT vec_id AS query_id, sig AS base FROM sig WHERE vec_id % 251 = 0),
             |fl AS (SELECT m.query_id, xor(q2.base, 1::BIGINT << CAST(m.p AS INT)) AS psig
             |  FROM (SELECT vec_id AS query_id, p,
             |     row_number() OVER (PARTITION BY vec_id ORDER BY abs(pr), p) AS mrank
             |    FROM proj WHERE vec_id % 251 = 0) m
             |  JOIN qs q2 USING (query_id) WHERE m.mrank <= 1),
             |probes AS (SELECT query_id, base AS psig FROM qs
             |  UNION ALL SELECT query_id, psig FROM fl),
             |cand AS (SELECT pr2.query_id, cs.vec_id
             |  FROM probes pr2 JOIN sig cs ON cs.sig = pr2.psig AND cs.vec_id <> pr2.query_id),
             |d AS (SELECT c.query_id, c.vec_id,
             |   CAST(sum((fc.iv - fq.iv) * (fc.iv - fq.iv)) AS BIGINT) AS idist
             |  FROM cand c JOIN fi fq ON fq.vec_id = c.query_id
             |  JOIN fi fc ON fc.vec_id = c.vec_id AND fc.i = fq.i
             |  GROUP BY 1, 2)
             |SELECT query_id, vec_id, idist, CAST(rank AS BIGINT) AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY idist, vec_id) AS rank
             |  FROM d) WHERE rank <= 10""".stripMargin)),

    Q("q313_selection_bias",
      // the DSIR failure mode made visible: per-language pool share vs
      // selected share and the over/under-selection ratio — pool-anchored
      // so a fully de-selected language still emits its row
      (s, d) => graft.ops.TrainingData.dsirSelectionBias(
        T(s, d, "documents"), targetSource = "src7", buckets = 4096,
        k = 500),
      Some(s"""WITH $dsirCtes,
              |tagged AS (SELECT d.lang,
              |   CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS is_sel
              |  FROM documents d LEFT JOIN sel s USING (doc_id)),
              |per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_pool,
              |   CAST(sum(is_sel) AS BIGINT) AS n_selected
              |  FROM tagged GROUP BY 1),
              |t AS (SELECT CAST(sum(n_pool) AS BIGINT) AS n,
              |   CAST(sum(n_selected) AS BIGINT) AS kk FROM per)
              |SELECT lang, n_pool, n_selected,
              |  CAST(n_pool * 1000000 // n AS BIGINT) AS pool_share_u,
              |  CAST(n_selected * 1000000 // kk AS BIGINT) AS sel_share_u,
              |  CAST(CAST(n_selected AS HUGEINT) * n * 1000000
              |    // (CAST(n_pool AS HUGEINT) * kk) AS BIGINT) AS bias_u
              |FROM per, t""".stripMargin)))

  // ------------------------------------------------------- round-12 extensions (batch 5)
  // Temperature-scaled source sampling (the multilingual mixture knob) and
  // the frozen-model DSIR admission gate (batch twin of SelectStream).
  private val ext42Qs = Seq(
    Q("q314_temperature_sampling",
      // p_s ∝ |D_s|^0.3: per-source raw vs temperature-flattened sampling
      // shares and the up/down-sampling factor a dataloader applies
      (s, d) => graft.ops.TrainingData.temperatureSampling(
        T(s, d, "documents"), alphaPct = 30),
      Some("""WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
             |     x -> x <> ''))) AS BIGINT) AS tokens
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per),
             |wgt AS (SELECT source, n_docs, tokens,
             |   CAST(tokens * 1000000 // greatest(total, 1) AS BIGINT) AS share_u,
             |   CAST(floor(exp(CAST(0.3 AS DOUBLE)
             |     * ln(CAST(greatest(tokens, 1) AS DOUBLE) / greatest(total, 1)))
             |     * 1000000) AS BIGINT) AS weight_u
             |  FROM per, tot),
             |wt AS (SELECT CAST(sum(weight_u) AS BIGINT) AS wt FROM wgt)
             |SELECT source, n_docs, tokens, share_u, weight_u,
             |  CAST(weight_u * 1000000 // greatest(wt, 1) AS BIGINT) AS temp_share_u,
             |  CAST(CAST(weight_u * 1000000 // greatest(wt, 1) AS HUGEINT) * 1000000
             |    // greatest(share_u, 1) AS BIGINT) AS upsample_u
             |FROM wgt, wt""".stripMargin)),

    Q("q315_dsir_gate",
      // the DSIR admission gate under a FROZEN model (fit on the %3<>0
      // snapshot): every current doc scored row-locally, unseen buckets at
      // the Laplace-only default — the batch twin SelectStream replays
      (s, d) => {
        val docs = T(s, d, "documents")
        val old = docs.filter(col("doc_id") % 3 =!= 0)
        val model = graft.ops.TrainingData.dsirModel(
          graft.ops.TrainingData.dsirFeatures(old, 4096), "src7")
        graft.ops.TrainingData.dsirGate(docs, model, buckets = 4096,
          thresholdU = 0L)
      },
      Some(s"""WITH $dsirGateCtes
              |SELECT d.doc_id, d.source,
              |  CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
              |  CAST(coalesce(p.w_u, 0) AS BIGINT) AS w_u,
              |  CAST(coalesce(p.w_u, 0) AS BIGINT) >= 0 AS admitted
              |FROM documents d LEFT JOIN pd p USING (doc_id)""".stripMargin)))

  /** Shared q315/q317 frozen-model gate chain: the %3<>0-snapshot model,
    * per-doc feature counts over the FULL corpus, the LEFT-join λ scoring
    * and the per-doc (n_feats, w_u) rollup (`pd`). */
  private lazy val dsirGateCtes: String = dsirGateCtesFrom("documents")

  /** The same chain with the corpus relation parameterized — q321 gates
    * the PII-augmented ingest snapshot. */
  private def dsirGateCtesFrom(src: String): String =
    s"""obase AS (SELECT doc_id, source,
       |   list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM $src WHERE doc_id % 3 <> 0),
       |obg AS (SELECT doc_id, source,
       |   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM obase),
       |ofb AS (SELECT doc_id, source, ${duckH60("bg")} % 4096 AS b FROM obg),
       |odf AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
       |  FROM ofb GROUP BY 1, 2, 3),
       |model AS (SELECT b, CAST(sum(c) AS BIGINT) AS cnt_raw,
       |   CAST(sum(CASE WHEN source = 'src7' THEN c ELSE 0 END) AS BIGINT) AS cnt_tgt
       |  FROM odf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt_raw) AS BIGINT) AS n_raw,
       |   CAST(sum(cnt_tgt) AS BIGINT) AS n_tgt FROM model),
       |cbase AS (SELECT doc_id, source,
       |   list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM $src),
       |cbg AS (SELECT doc_id, source,
       |   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM cbase),
       |cfb AS (SELECT doc_id, source, ${duckH60("bg")} % 4096 AS b FROM cbg),
       |cdf AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
       |  FROM cfb GROUP BY 1, 2, 3),
       |lam AS (SELECT cdf.doc_id, cdf.c,
       |   CAST(floor(ln(CAST(coalesce(m.cnt_tgt, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT)
       |   - CAST(floor(ln(CAST(t.n_tgt AS DOUBLE) + 4096) * 1000000) AS BIGINT)
       |   - CAST(floor(ln(CAST(coalesce(m.cnt_raw, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT)
       |   + CAST(floor(ln(CAST(t.n_raw AS DOUBLE) + 4096) * 1000000) AS BIGINT) AS lam_u
       |  FROM cdf LEFT JOIN model m USING (b), tot t),
       |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |   CAST(sum(c * lam_u) AS BIGINT) AS w_u
       |  FROM lam GROUP BY 1)""".stripMargin

  // ------------------------------------------------------- round-12 extensions (batch 6)
  // The ordering half of the multi-probe curve (nDCG per probe count) and
  // the gate-threshold calibration sweep — the two measurements that
  // close the serve stories q305 and q315 opened.
  private val ext43Qs = Seq(
    Q("q316_multiprobe_ndcg",
      // nDCG@10 of the probed index per nprobe vs exact ground truth —
      // q282's integer discount contract on the q305 probe blocks
      (s, d) => graft.ops.Similarity.multiprobeNdcg(T(s, d, "embeddings"),
        nProbes = Seq(1, 2, 4), nPlanes = 6, dim = 64, k = 10,
        nQueries = 5),
      Some {
        val blocks = Seq(1, 2, 4).map { np =>
          s"""nb$np AS (SELECT query_id, vec_id, CAST(rk AS BIGINT) AS approx_rank
             |  FROM (SELECT query_id, vec_id,
             |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
             |  FROM ccos WHERE probe_rank < $np) WHERE rk <= 10),
             |nh$np AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit,
             |   CAST(sum(${ndcgWeightSql("a.approx_rank", 10)}) AS BIGINT) AS dcg_u
             |  FROM ex e JOIN nb$np a ON a.query_id = e.query_id
             |   AND a.vec_id = e.vec_id GROUP BY 1),
             |ne$np AS (SELECT CAST($np AS BIGINT) AS nprobe, p.query_id, p.n_exact,
             |   CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             |   CAST(coalesce(h.dcg_u, 0) AS BIGINT) AS dcg_u,
             |   CAST(coalesce(${ndcgIdcgSql("p.n_exact", 10)}, 0) AS BIGINT) AS idcg_u,
             |   CAST(CASE WHEN ${ndcgIdcgSql("p.n_exact", 10)} > 0
             |     THEN coalesce(h.dcg_u, 0) * 1000000
             |       // ${ndcgIdcgSql("p.n_exact", 10)} END AS BIGINT) AS ndcg_u
             |  FROM perq p LEFT JOIN nh$np h USING (query_id))""".stripMargin
        }.mkString(",\n")
        s"""WITH $multiprobeCtes,
           |$blocks
           |SELECT * FROM ne1 UNION ALL SELECT * FROM ne2 UNION ALL SELECT * FROM ne4""".stripMargin
      }),

    Q("q317_gate_calibration",
      // the sweep that PICKS the gate threshold: admit rate, target-slice
      // recall and precision per candidate cut over the q315 scored
      // relation (the selection counterpart of q196's dedup sweep)
      (s, d) => {
        val docs = T(s, d, "documents")
        val old = docs.filter(col("doc_id") % 3 =!= 0)
        val model = graft.ops.TrainingData.dsirModel(
          graft.ops.TrainingData.dsirFeatures(old, 4096), "src7")
        graft.ops.TrainingData.gateCalibration(docs, model,
          targetSource = "src7", buckets = 4096)
      },
      Some(s"""WITH $dsirGateCtes,
              |anc AS (SELECT d.doc_id,
              |   CAST(coalesce(p.w_u, 0) AS BIGINT) AS w_u,
              |   d.source = 'src7' AS is_target
              |  FROM documents d LEFT JOIN pd p USING (doc_id)),
              |sp AS (SELECT CAST(unnest([-2000000, -1000000, 0, 1000000, 2000000]) AS BIGINT) AS threshold_u)
              |SELECT threshold_u, n_docs, n_admitted, n_target, n_target_admitted,
              |  CAST(n_admitted * 1000000 // n_docs AS BIGINT) AS admit_u,
              |  CAST(n_target_admitted * 1000000 // greatest(n_target, 1) AS BIGINT) AS recall_u,
              |  CAST(n_target_admitted * 1000000 // greatest(n_admitted, 1) AS BIGINT) AS precision_u
              |FROM (SELECT sp.threshold_u, CAST(count(*) AS BIGINT) AS n_docs,
              |   CAST(sum(CASE WHEN a.w_u >= sp.threshold_u THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
              |   CAST(sum(CASE WHEN a.is_target THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
              |   CAST(sum(CASE WHEN a.is_target AND a.w_u >= sp.threshold_u THEN 1 ELSE 0 END) AS BIGINT) AS n_target_admitted
              |  FROM anc a, sp GROUP BY 1)""".stripMargin)))

  // ------------------------------------------------------- round-13 extensions
  // The hybrid retrieval serve capstone: the four finished index
  // lifecycles (pruned BM25 impact index, multi-probe LSH, RRF fusion,
  // RAG budget fill) composed into the ONE per-query serve operator.

  /** q306's pruned-impact-index lexical chain (words .. psc), ending at
    * the scored pruned retrieval relation — shared by q306/q318. */
  private lazy val impactLexCtes: String =
    """words AS (
      |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> x <> '') AS tl FROM documents)),
      |toks AS (
      |  SELECT doc_id,
      |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
      |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |sl AS (SELECT CAST(sum(tf) AS BIGINT) AS sl FROM tf),
      |idf AS (SELECT tok,
      |    CAST(floor(ln(CAST(1.0 AS DOUBLE) + (n.n - df + CAST(0.5 AS DOUBLE))
      |      / (df + CAST(0.5 AS DOUBLE))) * 1000000) AS BIGINT) AS idf_u
      |  FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1) d, n
      |  WHERE df >= 2 AND df * 2 <= n.n),
      |post AS (SELECT t.tok, t.doc_id,
      |    CAST(i.idf_u * CAST(floor((t.tf * CAST(2.2 AS DOUBLE)
      |      / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |        + CAST(0.75 AS DOUBLE) * ((l.len * n.n) / sl.sl)))) * 1000000) AS BIGINT)
      |      AS BIGINT) AS impact_u
      |  FROM tf t JOIN len l ON l.doc_id = t.doc_id
      |  JOIN idf i ON i.tok = t.tok, n, sl),
      |pruned AS (SELECT tok, doc_id, impact_u FROM (SELECT *,
      |   row_number() OVER (PARTITION BY tok ORDER BY impact_u DESC, doc_id) AS rk
      |  FROM post) WHERE rk <= 4),
      |q AS (SELECT t.doc_id AS query_id, t.tok
      |  FROM tf t JOIN idf i ON i.tok = t.tok WHERE t.doc_id % 251 = 0),
      |psc AS (SELECT q.query_id, p.doc_id, CAST(sum(p.impact_u) AS BIGINT) AS score_u
      |  FROM q JOIN pruned p ON p.tok = q.tok GROUP BY 1, 2)""".stripMargin

  private val ext44Qs = Seq(
    Q("q318_hybrid_serve",
      // the retrieval-stack capstone: pruned impact-index BM25 top-5 x
      // multi-probe (nprobe=2) LSH top-5 over the shared id space ->
      // integer RRF -> strict-prefix 150-token context fill, per-query
      // funnel counts (n_lex/n_dense/n_fused/n_filled) riding every row
      (s, d) => graft.ops.Retrieval.hybridServe(
        T(s, d, "documents"), T(s, d, "embeddings")),
      Some(s"""WITH $impactLexCtes,
              |${multiprobeCtesFor("vec_id % 251 = 0", 1)},
              |ltop AS (SELECT query_id, doc_id, CAST(rk AS BIGINT) AS lex_rank
              |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              |     ORDER BY score_u DESC, doc_id) AS rk FROM psc) WHERE rk <= 5),
              |dtop AS (SELECT query_id, vec_id AS doc_id, CAST(rk AS BIGINT) AS dense_rank
              |  FROM (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
              |     ORDER BY cos DESC, vec_id) AS rk
              |    FROM ccos WHERE probe_rank < 2) WHERE rk <= 5),
              |fusedh AS (SELECT coalesce(l.query_id, de.query_id) AS query_id,
              |   coalesce(l.doc_id, de.doc_id) AS doc_id, l.lex_rank, de.dense_rank
              |  FROM ltop l FULL OUTER JOIN dtop de
              |   ON de.query_id = l.query_id AND de.doc_id = l.doc_id),
              |rrh AS (SELECT *,
              |   CAST(coalesce(1000000 // (60 + lex_rank), 0)
              |     + coalesce(1000000 // (60 + dense_rank), 0) AS BIGINT) AS rrf_u
              |  FROM fusedh WHERE doc_id <> query_id),
              |fsel AS (SELECT query_id, doc_id, lex_rank, dense_rank, rrf_u,
              |   CAST(fused_rank AS BIGINT) AS fused_rank FROM (
              |   SELECT *, row_number() OVER (PARTITION BY query_id
              |     ORDER BY rrf_u DESC, doc_id) AS fused_rank FROM rrh)
              |  WHERE fused_rank <= 5),
              |tk AS (SELECT doc_id,
              |   CAST(len(list_filter(string_split_regex(text, '\\s+'),
              |     x -> x <> '')) AS BIGINT) AS n_tokens FROM documents),
              |fil AS (SELECT f.query_id, f.doc_id, f.lex_rank, f.dense_rank,
              |   f.rrf_u, f.fused_rank, tk.n_tokens,
              |   CAST(sum(tk.n_tokens) OVER (PARTITION BY f.query_id
              |     ORDER BY f.fused_rank) AS BIGINT) AS cum_tokens
              |  FROM fsel f JOIN tk USING (doc_id)),
              |nlx AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_lex
              |  FROM ltop GROUP BY 1),
              |nds AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_dense
              |  FROM dtop GROUP BY 1)
              |SELECT fil.query_id, fil.doc_id, fil.lex_rank, fil.dense_rank,
              |  fil.rrf_u, fil.fused_rank, fil.n_tokens, fil.cum_tokens,
              |  fil.cum_tokens <= 150 AS in_context,
              |  CAST(coalesce(nlx.n_lex, 0) AS BIGINT) AS n_lex,
              |  CAST(coalesce(nds.n_dense, 0) AS BIGINT) AS n_dense,
              |  CAST(count(*) OVER (PARTITION BY fil.query_id) AS BIGINT) AS n_fused,
              |  CAST(sum(CASE WHEN fil.cum_tokens <= 150 THEN 1 ELSE 0 END)
              |    OVER (PARTITION BY fil.query_id) AS BIGINT) AS n_filled
              |FROM fil LEFT JOIN nlx USING (query_id)
              |LEFT JOIN nds USING (query_id)""".stripMargin)))

  /** q319's per-plane-count signature chain (prefixes keep the three
    * plane families apart; `f`/`fi`/`norms`/`ex`/`perq` are shared). The
    * plane hash depends only on (plane, dim), so the p-plane set is a
    * prefix of the 8-plane one — matching [[graft.ops.Similarity
    * .planeComponent]]'s nesting. */
  private def frontierSigChain(p: Int, maxFlips: Int): String =
    s"""pl$p AS (SELECT p, d,
       |   (list_sum(list_transform(range(15), j ->
       |      CAST(strpos('0123456789abcdef', substr(md5(p || ':' || d), CAST(j + 1 AS INT), 1)) - 1
       |        AS BIGINT) * (1::BIGINT << CAST(4 * (14 - j) AS INT)))) % 2001) - 1000 AS h
       |  FROM range($p) t(p), range(64) s(d)),
       |pj$p AS (SELECT fi.vec_id, pl.p, sum(fi.iv * pl.h) AS pr
       |  FROM fi JOIN pl$p pl ON pl.d = fi.i - 1 GROUP BY 1, 2),
       |sg$p AS (SELECT vec_id,
       |   CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS sig
       |  FROM pj$p GROUP BY 1),
       |qs$p AS (SELECT vec_id AS query_id, sig AS base FROM sg$p WHERE vec_id < 5),
       |fl$p AS (SELECT m.query_id, CAST(m.mrank AS BIGINT) AS probe_rank,
       |   xor(q2.base, 1::BIGINT << CAST(m.p AS INT)) AS psig
       |  FROM (SELECT vec_id AS query_id, p,
       |     row_number() OVER (PARTITION BY vec_id ORDER BY abs(pr), p) AS mrank
       |    FROM pj$p WHERE vec_id < 5) m
       |  JOIN qs$p q2 USING (query_id) WHERE m.mrank <= $maxFlips),
       |pb$p AS (SELECT query_id, CAST(0 AS BIGINT) AS probe_rank, base AS psig FROM qs$p
       |  UNION ALL SELECT query_id, probe_rank, psig FROM fl$p),
       |cd$p AS (SELECT pr2.query_id, pr2.probe_rank, cs.vec_id
       |  FROM pb$p pr2 JOIN sg$p cs ON cs.sig = pr2.psig AND cs.vec_id <> pr2.query_id),
       |cdd$p AS (SELECT c.query_id, c.probe_rank, c.vec_id,
       |   sum(CAST(fq.v AS DOUBLE) * fc.v) AS dp
       |  FROM cd$p c JOIN f fq ON fq.vec_id = c.query_id
       |  JOIN f fc ON fc.vec_id = c.vec_id AND fc.i = fq.i
       |  GROUP BY 1, 2, 3),
       |cc$p AS (SELECT d.query_id, d.probe_rank, d.vec_id,
       |   round(d.dp / (nq.nrm * nc2.nrm), 6) AS cos
       |  FROM cdd$p d JOIN norms nq ON nq.vec_id = d.query_id
       |  JOIN norms nc2 ON nc2.vec_id = d.vec_id)""".stripMargin

  private val ext45Qs = Seq(
    Q("q319_multiprobe_frontier",
      // the 2-D serve frontier (r12 judge item 2): planes x nprobe swept
      // together — recall@10, nDCG@10 and candidates-scanned per cell so
      // the knee of the trade is readable in one relation
      (s, d) => graft.ops.Similarity.multiprobeFrontier(
        T(s, d, "embeddings"), planesCounts = Seq(4, 6, 8),
        nProbes = Seq(1, 2, 4), dim = 64, k = 10, nQueries = 5),
      Some {
        val shared = s"""f AS (SELECT vec_id, unnest(embedding) AS v,
           |   generate_subscripts(embedding, 1) AS i FROM embeddings),
           |fi AS (SELECT vec_id, i,
           |   CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS iv FROM f),
           |norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS nrm FROM f GROUP BY 1),
           |exdots AS (SELECT q.query_id, f2.vec_id, sum(CAST(q.qv AS DOUBLE) * f2.v) AS dp
           |  FROM (SELECT vec_id AS query_id, v AS qv, i FROM f WHERE vec_id < 5) q
           |  JOIN f f2 ON f2.i = q.i WHERE f2.vec_id <> q.query_id GROUP BY 1, 2),
           |excos AS (SELECT d.query_id, d.vec_id, round(d.dp / (nq.nrm * nc2.nrm), 6) AS cos
           |  FROM exdots d JOIN norms nq ON nq.vec_id = d.query_id
           |  JOIN norms nc2 ON nc2.vec_id = d.vec_id),
           |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
           |  FROM excos) WHERE rk <= 10),
           |perq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM ex GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |   CAST(sum(n_exact) AS BIGINT) AS n_exact,
           |   CAST(sum(${ndcgIdcgSql("n_exact", 10)}) AS BIGINT) AS idcg_u FROM perq)""".stripMargin
        val chains = Seq(4, 6, 8).map(p => frontierSigChain(p, 3)).mkString(",\n")
        val cells = for { p <- Seq(4, 6, 8); np <- Seq(1, 2, 4) } yield
          s"""b${p}_$np AS (SELECT query_id, vec_id, CAST(rk AS BIGINT) AS approx_rank
             |  FROM (SELECT query_id, vec_id,
             |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
             |  FROM cc$p WHERE probe_rank < $np) WHERE rk <= 10),
             |h${p}_$np AS (SELECT CAST(count(*) AS BIGINT) AS n_hit,
             |   CAST(coalesce(sum(${ndcgWeightSql("b.approx_rank", 10)}), 0) AS BIGINT) AS dcg_u
             |  FROM ex e JOIN b${p}_$np b ON b.query_id = e.query_id AND b.vec_id = e.vec_id),
             |c${p}_$np AS (SELECT CAST(count(*) AS BIGINT) AS n_cand
             |  FROM cd$p WHERE probe_rank < $np),
             |cell${p}_$np AS (SELECT CAST($p AS BIGINT) AS nplanes,
             |   CAST($np AS BIGINT) AS nprobe, t.n_queries, c.n_cand,
             |   t.n_exact, h.n_hit,
             |   CAST(h.n_hit * 1000000 // greatest(t.n_exact, 1) AS BIGINT) AS recall_u,
             |   h.dcg_u, t.idcg_u,
             |   CAST(h.dcg_u * 1000000 // greatest(t.idcg_u, 1) AS BIGINT) AS ndcg_u
             |  FROM tot t, c${p}_$np c, h${p}_$np h)""".stripMargin
        val sel = (for { p <- Seq(4, 6, 8); np <- Seq(1, 2, 4) } yield
          s"SELECT * FROM cell${p}_$np").mkString("\nUNION ALL ")
        s"""WITH $shared,
           |$chains,
           |${cells.mkString(",\n")}
           |$sel""".stripMargin
      }))

  /** One q320 drift step: drifted corpus (exact-binary scale factor) →
    * re-encode under the FROZEN cc/c2 codebooks ([[ivfPqAssignCtes]]) →
    * nprobe=2 probe against the drifted codes → exact integer-L2 ground
    * truth over the drifted coords → q298's cell-mean drift gauge → one
    * summary row. */
  private def ivfPqDriftStepCtes(u: Int): String = {
    val p = s"d$u"
    val offset = (0.25 * u).toString
    val offsetU = math.round(0.25 * u * 1000000d)
    s"""${p}emb AS (SELECT vec_id, list_transform(embedding,
       |   x -> CAST(x AS DOUBLE) + CAST($offset AS DOUBLE)) AS embedding
       |  FROM embeddings),
       |${ivfPqAssignCtes(p, s"${p}emb")},
       |${p}probes AS (SELECT vec_id AS query_id, cell FROM (
       |  SELECT vec_id, cell,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY cdist, cell) AS rn FROM (
       |   SELECT i.vec_id, c.cell, sum((i.x - c.cx) * (i.x - c.cx)) AS cdist
       |   FROM ${p}iv i JOIN cc c ON c.d = i.d WHERE i.vec_id < 5 GROUP BY 1, 2)) WHERE rn <= 2),
       |${p}qres AS (SELECT pr.query_id, pr.cell,
       |   CAST(i.d // 4 AS BIGINT) AS sub, CAST(i.d % 4 AS BIGINT) AS dl,
       |   i.x - c.cx AS qx
       |  FROM ${p}probes pr JOIN ${p}iv i ON i.vec_id = pr.query_id
       |  JOIN cc c ON c.cell = pr.cell AND c.d = i.d),
       |${p}qd AS MATERIALIZED (SELECT q.query_id, q.cell, q.sub, c.cid,
       |   sum((q.qx - c.cx) * (q.qx - c.cx)) AS qdist
       |  FROM ${p}qres q JOIN c2 c ON c.sub = q.sub AND c.dl = q.dl
       |  GROUP BY 1, 2, 3, 4),
       |${p}ad AS (SELECT qd.query_id, k.vec_id, sum(qd.qdist) AS adist
       |  FROM ${p}codes k JOIN ${p}qd qd ON qd.cell = k.cell
       |   AND qd.sub = k.sub AND qd.cid = k.cid
       |  WHERE k.vec_id <> qd.query_id GROUP BY 1, 2),
       |${p}rk AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |   row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rnk
       |  FROM ${p}ad) WHERE rnk <= 10),
       |${p}exd AS (SELECT qi.vec_id AS query_id, i.vec_id,
       |   sum((i.x - qi.x) * (i.x - qi.x)) AS edist
       |  FROM ${p}iv i JOIN ${p}iv qi ON qi.d = i.d AND qi.vec_id < 5
       |   AND i.vec_id <> qi.vec_id GROUP BY 1, 2),
       |${p}ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |   row_number() OVER (PARTITION BY query_id ORDER BY edist, vec_id) AS rk
       |  FROM ${p}exd) WHERE rk <= 10),
       |${p}en AS (SELECT count(*) AS n_exact FROM ${p}ex),
       |${p}eh AS (SELECT count(*) AS n_hit FROM ${p}ex e
       |  JOIN ${p}rk r ON r.query_id = e.query_id AND r.vec_id = e.vec_id),
       |${p}cm AS (SELECT v.cell, i.d,
       |   CAST(floor(sum(i.x)::DOUBLE / count(*)) AS BIGINT) AS mx
       |  FROM ${p}iv i JOIN ${p}vc v ON v.vec_id = i.vec_id GROUP BY 1, 2),
       |${p}dr AS (SELECT CAST(coalesce(sum(cdrift), 0) AS BIGINT) AS total_drift,
       |   CAST(coalesce(max(cdrift), 0) AS BIGINT) AS max_cell_drift FROM (
       |  SELECT cm.cell, sum((cm.mx - c.cx) * (cm.mx - c.cx)) AS cdrift
       |  FROM ${p}cm cm JOIN cc c ON c.cell = cm.cell AND c.d = cm.d GROUP BY 1)),
       |${p}row AS (SELECT CAST($u AS BIGINT) AS step,
       |   CAST($offsetU AS BIGINT) AS offset_u,
       |   dr.total_drift, dr.max_cell_drift,
       |   CAST(en.n_exact AS BIGINT) AS n_exact,
       |   CAST(eh.n_hit AS BIGINT) AS n_hit,
       |   CAST(CASE WHEN en.n_exact > 0
       |     THEN eh.n_hit * 1000000 // en.n_exact END AS BIGINT) AS recall_u
       |  FROM ${p}dr dr, ${p}en en, ${p}eh eh)""".stripMargin
  }

  private val ext46Qs = Seq(
    Q("q320_ivfpq_drift_recall",
      // the retrain trigger (r12 judge item 3): index trained ONCE on the
      // base corpus, then a controlled perturbation series (exact-binary
      // +0.0/0.25/0.5/0.75 translation) drifts corpus AND queries; per
      // step the FROZEN index re-encodes (append path, no retrain),
      // serves at nprobe=2, and is scored vs exact integer-L2 ground
      // truth over the same drifted coords (translation-invariant, so
      // recall loss is PURE index mismatch), with q298's cell-drift gauge
      // riding the row — (total_drift, recall_u) is the retrain threshold
      (s, d) => graft.ops.Quantize.ivfPqDriftRecall(T(s, d, "embeddings"),
        steps = Seq(0, 1, 2, 3), driftPerStep = 0.25, nCells = 8, m = 16,
        k = 32, rounds = 2, nprobe = 2, nQueries = 5, topK = 10, dim = 64),
      Some(ivfPqIndexCtes + ",\n" +
        Seq(0, 1, 2, 3).map(ivfPqDriftStepCtes).mkString(",\n") + "\n" +
        Seq(0, 1, 2, 3).map(u => s"SELECT * FROM d${u}row")
          .mkString("\nUNION ALL "))),

    Q("q321_ingest_admission",
      // the streaming ingest capstone's batch twin: ONE admission decision
      // per arriving doc — frozen DSIR gate (row-local broadcast λ map) →
      // curation cascade + PII audit → known-dup screen — with the
      // first-failing-stage reason and per-source funnel counts riding
      // every row. PII planted doc_id-derived (q205), known dups the
      // % 13 = 5 keeper-reject stand-in, model frozen on the % 3 <> 0
      // snapshot (q315)
      (s, d) => {
        val docs = T(s, d, "documents")
        val aug = docs.withColumn("text", concat(col("text"),
          lit(" reach u"), col("doc_id").cast("string"),
          lit("@mail.example.com")))
        val model = graft.ops.TrainingData.dsirModel(
          graft.ops.TrainingData.dsirFeatures(
            aug.filter(col("doc_id") % 3 =!= 0), 4096), "src7")
        val dups = docs.filter(col("doc_id") % 13 === 5)
          .select(col("doc_id"))
        graft.streaming.IngestStream.admissionFunnel(
          graft.streaming.IngestStream.admissionDecisions(aug, model, dups,
            4096, 0L))
      },
      Some(s"""WITH aug AS (SELECT doc_id, source, lang,
              |   text || ' reach u' || CAST(doc_id AS VARCHAR) || '@mail.example.com' AS text
              |  FROM documents),
              |${dsirGateCtesFrom("aug")},
              |qm AS (SELECT doc_id, source,
              |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
              |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tl,
              |  round((
              |    (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) / 5
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) / 4
              |    + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', ''))) / 4
              |  )::DOUBLE / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 6) AS stopword_ratio,
              |  round(length(text)::DOUBLE
              |    / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE, 1.0), 4) AS mean_word_len,
              |  lower(text) AS t
              | FROM aug),
              |qr AS (SELECT *,
              |   CASE WHEN len(tl) = 0 THEN NULL
              |    ELSE floor((1.0 - len(list_distinct(tl))::DOUBLE / len(tl)) * 1000000) / 1000000
              |   END AS rep_ratio
              |  FROM qm),
              |dec AS (SELECT r.doc_id, r.source,
              |   CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
              |   CAST(coalesce(p.w_u, 0) AS BIGINT) AS w_u,
              |   CAST(coalesce(p.w_u, 0) AS BIGINT) >= 0 AS gate_ok,
              |   r.n_tokens, r.rep_ratio,
              |   (NOT (r.n_tokens < 20) AND NOT (r.stopword_ratio < 0.02)
              |    AND NOT coalesce(r.rep_ratio > 0.65, FALSE)
              |    AND NOT (r.mean_word_len > 5.9)) AS quality_ok,
              |   CAST(len(regexp_extract_all(r.t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT)
              |   + CAST(len(regexp_extract_all(r.t, '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b')) AS BIGINT)
              |   + CAST(len(regexp_extract_all(r.t, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS BIGINT)
              |   + CAST(len(regexp_extract_all(r.t, '\\b[0-9]{9,}\\b')) AS BIGINT) AS n_redacted,
              |   CAST(length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(r.t,
              |     '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '[EMAIL]', 'g'),
              |     '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '[PHONE]', 'g'),
              |     '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '[SSN]', 'g'),
              |     '\\b[0-9]{9,}\\b', '[ID]', 'g')) AS BIGINT) AS masked_len,
              |   r.doc_id % 13 = 5 AS known_dup
              |  FROM qr r LEFT JOIN pd p USING (doc_id)),
              |fin AS (SELECT *,
              |   (gate_ok AND quality_ok AND NOT known_dup) AS admitted,
              |   CASE WHEN NOT gate_ok THEN 'gate'
              |    WHEN NOT quality_ok THEN 'quality'
              |    WHEN known_dup THEN 'known_dup' END AS reason
              |  FROM dec)
              |SELECT doc_id, source, n_feats, w_u, gate_ok, n_tokens,
              |  rep_ratio, quality_ok, n_redacted, masked_len, known_dup,
              |  admitted, reason,
              |  CAST(count(*) OVER ws AS BIGINT) AS n_arrived,
              |  CAST(sum(CASE WHEN gate_ok THEN 1 ELSE 0 END) OVER ws AS BIGINT) AS n_gate_ok,
              |  CAST(sum(CASE WHEN gate_ok AND quality_ok THEN 1 ELSE 0 END) OVER ws AS BIGINT) AS n_quality_ok,
              |  CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) OVER ws AS BIGINT) AS n_admitted
              |FROM fin WINDOW ws AS (PARTITION BY source)""".stripMargin)),

    Q("q322_krippendorff_ordinal",
      // ordinal-scale Krippendorff's alpha alongside nominal from the
      // SAME coincidence rollup (r12 judge item 8): three length-quality
      // raters on a shared ranked 1..4 bin scale (token bins / char bins
      // / distinct-token bins, the third abstaining on % 7 = 0), ordinal
      // δ² = cumulative-margin differences in exact 2x/4x/8x integer
      // units — adjacent-bin disagreement prices below far-bin
      (s, d) => graft.ops.Classifier.krippendorffOrdinal(
        T(s, d, "documents")),
      Some("""WITH base AS (SELECT doc_id,
             |   CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok,
             |   CAST(length(text) AS BIGINT) AS nch,
             |   CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS BIGINT) AS nd
             |  FROM documents),
             |rt AS (
             |  SELECT doc_id, CASE WHEN ntok < 35 THEN 1 WHEN ntok < 56 THEN 2
             |    WHEN ntok < 79 THEN 3 ELSE 4 END AS cat FROM base
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN nch < 190 THEN 1 WHEN nch < 310 THEN 2
             |    WHEN nch < 440 THEN 3 ELSE 4 END AS cat FROM base
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN nd < 20 THEN 1 WHEN nd < 25 THEN 2
             |    WHEN nd < 29 THEN 3 ELSE 4 END AS cat FROM base
             |  WHERE doc_id % 7 <> 0),
             |uc AS (SELECT doc_id, CAST(cat AS BIGINT) AS cat,
             |   CAST(count(*) AS BIGINT) AS nuc FROM rt GROUP BY 1, 2),
             |un AS (SELECT doc_id, CAST(sum(nuc) AS BIGINT) AS mu,
             |   CAST(sum(nuc * nuc) AS BIGINT) AS ssq
             |  FROM uc GROUP BY 1 HAVING sum(nuc) >= 2),
             |da AS (SELECT CAST(count(*) AS BIGINT) AS n_pairable,
             |   CAST(sum(2 * (mu * mu - ssq) // (mu - 1)) AS BIGINT) AS o_off_2x FROM un),
             |pu AS (SELECT uc.doc_id, uc.cat, uc.nuc, un.mu
             |  FROM uc JOIN un USING (doc_id)),
             |nc AS (SELECT cat, CAST(sum(nuc) AS BIGINT) AS nc FROM pu GROUP BY 1),
             |ncum AS (SELECT cat, nc,
             |   CAST(sum(nc) OVER (ORDER BY cat) AS BIGINT) AS ncm FROM nc),
             |op AS (SELECT a.cat AS c, b.cat AS k,
             |   CAST(sum(2 * a.nuc * b.nuc // (a.mu - 1)) AS BIGINT) AS o2x
             |  FROM pu a JOIN pu b ON b.doc_id = a.doc_id AND a.cat < b.cat
             |  GROUP BY 1, 2),
             |dl AS (SELECT x.cat AS c, y.cat AS k,
             |   CAST(x.nc * y.nc AS BIGINT) AS nprod,
             |   CAST(2 * y.ncm - 2 * x.ncm + x.nc - y.nc AS BIGINT) AS d2x
             |  FROM ncum x JOIN ncum y ON x.cat < y.cat),
             |de AS (SELECT coalesce(sum(CAST(nprod AS HUGEINT) * d2x * d2x),
             |   CAST(0 AS HUGEINT)) AS de_ord_4x FROM dl),
             |dox AS (SELECT coalesce(sum(CAST(op.o2x AS HUGEINT) * dl.d2x * dl.d2x),
             |   CAST(0 AS HUGEINT)) AS do_ord_8x
             |  FROM op JOIN dl ON dl.c = op.c AND dl.k = op.k),
             |tot AS (SELECT CAST(sum(nc) AS BIGINT) AS n_ratings,
             |   CAST(count(*) AS BIGINT) AS n_categories,
             |   CAST(sum(nc * nc) AS BIGINT) AS ssq_c FROM nc),
             |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM documents)
             |SELECT n_units, n_pairable, n_ratings, n_categories, o_off_2x,
             |  de_pairs, dis_nom_u,
             |  CAST(2000000 - dis_nom_u AS BIGINT) AS alpha_nom_p1_u,
             |  dis_ord_u,
             |  CAST(2000000 - dis_ord_u AS BIGINT) AS alpha_ord_p1_u
             |FROM (SELECT *,
             |  CASE WHEN de_pairs > 0 THEN
             |    CAST(CAST(o_off_2x AS HUGEINT) * (n_ratings - 1) * 1000000
             |      // (2 * de_pairs) AS BIGINT) END AS dis_nom_u,
             |  CASE WHEN de_ord_4x > 0 THEN
             |    CAST(do_ord_8x * (n_ratings - 1) * 1000000
             |      // (2 * de_ord_4x) AS BIGINT) END AS dis_ord_u
             |  FROM (SELECT n_units, n_pairable, n_ratings, n_categories,
             |    o_off_2x, n_ratings * n_ratings - ssq_c AS de_pairs,
             |    do_ord_8x, de_ord_4x
             |   FROM nu, da, tot, de, dox))""".stripMargin)))

  /** The q154/q306 trigram→BM25 chain with prefix and source relation
    * parameterized — q323 replays it once frozen ("o", documents) and
    * once per drift step; ends at `<p>post(tok, doc_id, impact_u)`. */
  private def bm25ChainCtes(p: String, src: String): String =
    s"""${p}words AS (
       |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> x <> '') AS tl FROM $src)),
       |${p}toks AS (
       |  SELECT doc_id,
       |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS tok
       |  FROM ${p}words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
       |${p}tf AS (SELECT doc_id, tok, count(*) AS tf FROM ${p}toks GROUP BY 1, 2),
       |${p}len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM ${p}tf GROUP BY 1),
       |${p}n AS (SELECT count(*) AS n FROM $src),
       |${p}sl AS (SELECT CAST(sum(tf) AS BIGINT) AS sl FROM ${p}tf),
       |${p}idf AS (SELECT tok,
       |    CAST(floor(ln(CAST(1.0 AS DOUBLE) + (n.n - df + CAST(0.5 AS DOUBLE))
       |      / (df + CAST(0.5 AS DOUBLE))) * 1000000) AS BIGINT) AS idf_u
       |  FROM (SELECT tok, count(*) AS df FROM ${p}tf GROUP BY 1) d, ${p}n n
       |  WHERE df >= 2 AND df * 2 <= n.n),
       |${p}post AS (SELECT t.tok, t.doc_id,
       |    CAST(i.idf_u * CAST(floor((t.tf * CAST(2.2 AS DOUBLE)
       |      / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
       |        + CAST(0.75 AS DOUBLE) * ((l.len * n.n) / sl.sl)))) * 1000000) AS BIGINT)
       |      AS BIGINT) AS impact_u
       |  FROM ${p}tf t JOIN ${p}len l ON l.doc_id = t.doc_id
       |  JOIN ${p}idf i ON i.tok = t.tok, ${p}n n, ${p}sl sl)""".stripMargin

  /** One q323 drift step: edited corpus → full current index (fresh
    * ground truth) + frozen-pruned-index serve over the same queries →
    * recall + idf-drift gauge → one summary row. */
  private def impactDriftStepCtes(u: Int): String = {
    val p = s"e$u"
    s"""${p}cur AS (SELECT doc_id,
       |   CASE WHEN doc_id % 7 < $u THEN text || ' zzdrift zzdrift zzdrift'
       |    ELSE text END AS text
       |  FROM documents WHERE NOT (doc_id % 11 < $u)),
       |${bm25ChainCtes(p, s"${p}cur")},
       |${p}qg AS (SELECT doc_id AS query_id, tok FROM ${p}tf
       |  WHERE doc_id % 251 = 0),
       |${p}ftop AS (SELECT query_id, doc_id FROM (
       |  SELECT s.query_id, s.doc_id,
       |   row_number() OVER (PARTITION BY s.query_id
       |     ORDER BY s.score_u DESC, s.doc_id) AS rk FROM (
       |   SELECT g.query_id, pp.doc_id, CAST(sum(pp.impact_u) AS BIGINT) AS score_u
       |   FROM ${p}qg g JOIN ${p}idf i ON i.tok = g.tok
       |   JOIN ${p}post pp ON pp.tok = g.tok GROUP BY 1, 2) s) WHERE rk <= 5),
       |${p}ztop AS (SELECT query_id, doc_id FROM (
       |  SELECT s.query_id, s.doc_id,
       |   row_number() OVER (PARTITION BY s.query_id
       |     ORDER BY s.score_u DESC, s.doc_id) AS rk FROM (
       |   SELECT g.query_id, pp.doc_id, CAST(sum(pp.impact_u) AS BIGINT) AS score_u
       |   FROM ${p}qg g JOIN zidf i ON i.tok = g.tok
       |   JOIN zpruned pp ON pp.tok = g.tok GROUP BY 1, 2) s) WHERE rk <= 5),
       |${p}en AS (SELECT count(*) AS n_exact FROM ${p}ftop),
       |${p}eh AS (SELECT count(*) AS n_hit FROM ${p}ftop f
       |  JOIN ${p}ztop z ON z.query_id = f.query_id AND z.doc_id = f.doc_id),
       |${p}gg AS (SELECT
       |   CAST(sum(CASE WHEN o.idf_u IS NOT NULL AND c.idf_u IS NOT NULL
       |     AND o.idf_u <> c.idf_u THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_drifted,
       |   CAST(sum(CASE WHEN o.idf_u IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_new,
       |   CAST(sum(abs(coalesce(c.idf_u, 0) - coalesce(o.idf_u, 0))) AS BIGINT)
       |     AS idf_drift_total
       |  FROM zidf o FULL OUTER JOIN ${p}idf c ON c.tok = o.tok),
       |${p}ne AS (SELECT
       |   CAST(sum(CASE WHEN doc_id % 7 < $u AND NOT (doc_id % 11 < $u)
       |     THEN 1 ELSE 0 END) AS BIGINT) AS n_edited,
       |   CAST(sum(CASE WHEN doc_id % 11 < $u THEN 1 ELSE 0 END) AS BIGINT)
       |     AS n_removed
       |  FROM documents),
       |${p}row AS (SELECT CAST($u AS BIGINT) AS step, ne.n_removed, ne.n_edited,
       |   gg.n_terms_drifted, gg.n_terms_new, gg.idf_drift_total,
       |   CAST(en.n_exact AS BIGINT) AS n_exact,
       |   CAST(eh.n_hit AS BIGINT) AS n_hit,
       |   CAST(CASE WHEN en.n_exact > 0
       |     THEN eh.n_hit * 1000000 // en.n_exact END AS BIGINT) AS recall_u
       |  FROM ${p}en en, ${p}eh eh, ${p}gg gg, ${p}ne ne)""".stripMargin
  }

  /** Hashed-bigram feature chain → DSIR model → λ table + unseen-bucket
    * default, prefix- and source-parameterized — q324 replays it frozen
    * ("f", documents) and once per drift step. Emits `<p>df(doc_id,
    * source, b, c)`, `<p>lam(b, lam_u)`, `<p>def(lam_default)`. */
  private def dsirLamCtes(p: String, src: String): String =
    s"""${p}base AS (SELECT doc_id, source,
       |   list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
       |  FROM $src),
       |${p}bg AS (SELECT doc_id, source,
       |   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM ${p}base),
       |${p}df AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, source, ${duckH60("bg")} % 4096 AS b FROM ${p}bg)
       |  GROUP BY 1, 2, 3),
       |${p}model AS (SELECT b, CAST(sum(c) AS BIGINT) AS cnt_raw,
       |   CAST(sum(CASE WHEN source = 'src7' THEN c ELSE 0 END) AS BIGINT) AS cnt_tgt
       |  FROM ${p}df GROUP BY 1),
       |${p}tot AS (SELECT CAST(sum(cnt_raw) AS BIGINT) AS n_raw,
       |   CAST(sum(cnt_tgt) AS BIGINT) AS n_tgt FROM ${p}model),
       |${p}lam AS (SELECT m.b,
       |   CAST(floor(ln(CAST(m.cnt_tgt AS DOUBLE) + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT)
       |   - CAST(floor(ln(CAST(t.n_tgt AS DOUBLE) + 4096) * 1000000) AS BIGINT)
       |   - CAST(floor(ln(CAST(m.cnt_raw AS DOUBLE) + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT)
       |   + CAST(floor(ln(CAST(t.n_raw AS DOUBLE) + 4096) * 1000000) AS BIGINT) AS lam_u
       |  FROM ${p}model m, ${p}tot t),
       |${p}def AS (SELECT
       |   CAST(floor(ln(CAST(n_raw AS DOUBLE) + 4096) * 1000000) AS BIGINT)
       |   - CAST(floor(ln(CAST(n_tgt AS DOUBLE) + 4096) * 1000000) AS BIGINT)
       |   AS lam_default
       |  FROM ${p}tot)""".stripMargin

  /** One q324 drift step: edited corpus → one feature pass feeding the
    * fresh model AND both gate scorings → decision-agreement rollup +
    * λ-drift gauge → one summary row. */
  private def dsirDriftStepCtes(u: Int): String = {
    val p = s"g$u"
    s"""${p}cur AS (SELECT doc_id, source,
       |   CASE WHEN doc_id % 7 < $u AND source <> 'src7'
       |    THEN text || ' zzdrift gate zzdrift gate zzdrift'
       |    ELSE text END AS text
       |  FROM documents),
       |${dsirLamCtes(p, s"${p}cur")},
       |${p}wf AS (SELECT d.doc_id,
       |   CAST(sum(d.c * coalesce(l.lam_u, fd.lam_default)) AS BIGINT) AS w
       |  FROM ${p}df d LEFT JOIN flam l ON l.b = d.b, fdef fd GROUP BY 1),
       |${p}wc AS (SELECT d.doc_id,
       |   CAST(sum(d.c * coalesce(l.lam_u, cd.lam_default)) AS BIGINT) AS w
       |  FROM ${p}df d LEFT JOIN ${p}lam l ON l.b = d.b, ${p}def cd GROUP BY 1),
       |${p}dec AS (SELECT t.threshold_u,
       |   CAST(sum(CASE WHEN coalesce(wf.w, 0) >= t.threshold_u THEN 1 ELSE 0 END) AS BIGINT)
       |     AS n_admit_frozen,
       |   CAST(sum(CASE WHEN coalesce(wc.w, 0) >= t.threshold_u THEN 1 ELSE 0 END) AS BIGINT)
       |     AS n_admit_fresh,
       |   CAST(sum(CASE WHEN coalesce(wf.w, 0) >= t.threshold_u AND coalesce(wc.w, 0) >= t.threshold_u
       |     THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |   CAST(sum(CASE WHEN coalesce(wf.w, 0) >= t.threshold_u AND coalesce(wc.w, 0) < t.threshold_u
       |     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_admit,
       |   CAST(sum(CASE WHEN coalesce(wf.w, 0) < t.threshold_u AND coalesce(wc.w, 0) >= t.threshold_u
       |     THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
       |  FROM ${p}cur c LEFT JOIN ${p}wf wf ON wf.doc_id = c.doc_id
       |  LEFT JOIN ${p}wc wc ON wc.doc_id = c.doc_id, fthr t
       |  GROUP BY 1),
       |${p}gg AS (SELECT
       |   CAST(sum(CASE WHEN dl <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |     AS n_buckets_drifted,
       |   CAST(coalesce(sum(abs(dl)), 0) AS BIGINT) AS lambda_drift_total
       |  FROM (SELECT coalesce(fl.lam_u, fd.lam_default)
       |     - coalesce(cl.lam_u, cd.lam_default) AS dl
       |   FROM flam fl FULL OUTER JOIN ${p}lam cl ON cl.b = fl.b,
       |    fdef fd, ${p}def cd)),
       |${p}ne AS (SELECT CAST(sum(CASE WHEN doc_id % 7 < $u
       |    AND source <> 'src7' THEN 1 ELSE 0 END) AS BIGINT) AS n_edited
       |  FROM documents),
       |${p}row AS (SELECT CAST($u AS BIGINT) AS step, d.threshold_u,
       |   ne.n_edited,
       |   gg.n_buckets_drifted, gg.lambda_drift_total,
       |   d.n_admit_frozen, d.n_admit_fresh, d.n_both, d.n_false_admit,
       |   d.n_missed,
       |   CAST(d.n_both * 1000000 // greatest(d.n_admit_fresh, 1) AS BIGINT)
       |     AS agree_u
       |  FROM ${p}dec d, ${p}gg gg, ${p}ne ne)""".stripMargin
  }

  private val ext47Qs = Seq(
    Q("q324_dsir_gate_drift",
      // the selection-model retrain trigger closing the trilogy
      // (q320 vector / q323 lexical / q324 gate): frozen t0 model vs a
      // fresh per-step model deciding the same drifted corpus (non-target
      // docs gain bigrams the target never says — fresh λ strongly
      // negative, frozen scores them at the unseen default), with the
      // λ-L1 drift gauge riding each row
      // the gate threshold self-calibrates to the frozen pool's mean
      // weight (an absolute constant cannot survive scale: Laplace
      // smoothing shrinks with corpus size — median w_u is -58e6 at
      // sf0.001 but -17.5e6 at sf0.1)
      (s, d) => graft.ops.TrainingData.dsirGateDrift(T(s, d, "documents"),
        steps = Seq(0, 1, 2, 3), modBase = 7, targetSource = "src7",
        buckets = 4096),
      Some("WITH " + dsirLamCtes("f", "documents") + ",\n" +
        """fw AS (SELECT d.doc_id,
          |   CAST(sum(d.c * coalesce(l.lam_u, fd.lam_default)) AS BIGINT) AS w
          |  FROM fdf d LEFT JOIN flam l ON l.b = d.b, fdef fd GROUP BY 1),
          |fthr AS (SELECT CAST((sum(coalesce(fw.w, 0)) + 1000000000 * count(*))
          |   // count(*) - 1000000000 AS BIGINT) AS threshold_u
          |  FROM documents dd LEFT JOIN fw ON fw.doc_id = dd.doc_id),""".stripMargin + "\n" +
        Seq(0, 1, 2, 3).map(dsirDriftStepCtes).mkString(",\n") + "\n" +
        Seq(0, 1, 2, 3).map(u => s"SELECT * FROM g${u}row")
          .mkString("\nUNION ALL "))),

    Q("q323_impact_drift_recall",
      // the lexical retrain trigger — q320's twin for the pruned impact
      // index: frozen keepTop=4 index built once at t0; per step the
      // % 11 < u docs DEPART (df and N move -> every surviving term's
      // idf drifts, orphaned results keep serving) and the % 7 < u
      // survivors gain an appended token run (tf, lengths, trigram vocab
      // move); the frozen index serves the CURRENT queries and is scored
      // vs the fresh full ranking; the q309 idf-drift gauge rides each
      // row. Step 0 = pure pruning loss (== q306's aggregate, spec-pinned)
      (s, d) => graft.ops.Retrieval.impactDriftRecall(T(s, d, "documents"),
        steps = Seq(0, 1, 2, 3), modBase = 7, keepTop = 4,
        queryStride = 251, topK = 5, dfMin = 2),
      Some("WITH " + bm25ChainCtes("z", "documents") + ",\n" +
        """zpruned AS (SELECT tok, doc_id, impact_u FROM (SELECT *,
          |   row_number() OVER (PARTITION BY tok ORDER BY impact_u DESC, doc_id) AS rk
          |  FROM zpost) WHERE rk <= 4),""".stripMargin + "\n" +
        Seq(0, 1, 2, 3).map(impactDriftStepCtes).mkString(",\n") + "\n" +
        Seq(0, 1, 2, 3).map(u => s"SELECT * FROM e${u}row")
          .mkString("\nUNION ALL "))),

    Q("q325_cache_invalidation",
      // selective serve-cache invalidation under the frozen-stats append
      // contract: the engine rescored ONLY queries sharing a term with
      // the % 17 arrival delta and copies the cache for the rest; the
      // oracle rescored EVERYTHING over old ∪ delta postings — the hash
      // match IS the untouched-⇒-unchanged proof, query by query
      (s, d) => {
        val docs = T(s, d, "documents")
        val arrivals = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            concat(col("text"), lit(" arrival")).as("text"))
        graft.ops.Retrieval.impactCacheInvalidation(docs, arrivals,
          queryStride = 251, topK = 5, dfMin = 2)
      },
      Some("WITH " + bm25ChainCtes("z", "documents") + ",\n" +
        """arr AS (SELECT doc_id + 5000000 AS doc_id, text || ' arrival' AS text
          |  FROM documents WHERE doc_id % 17 = 0),""".stripMargin + "\n" +
        bm25ChainCtes("a", "arr") + ",\n" +
        """dpost AS (SELECT t.tok, t.doc_id,
          |    CAST(i.idf_u * CAST(floor((t.tf * CAST(2.2 AS DOUBLE)
          |      / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
          |        + CAST(0.75 AS DOUBLE) * ((l.len * n.n) / sl.sl)))) * 1000000) AS BIGINT)
          |      AS BIGINT) AS impact_u
          |  FROM atf t JOIN alen l ON l.doc_id = t.doc_id
          |  JOIN zidf i ON i.tok = t.tok, zn n, zsl sl),
          |zq AS (SELECT t.doc_id AS query_id, t.tok FROM ztf t
          |  JOIN zidf i ON i.tok = t.tok WHERE t.doc_id % 251 = 0),
          |ctop AS (SELECT query_id, doc_id, rank FROM (
          |  SELECT s.query_id, s.doc_id,
          |   CAST(row_number() OVER (PARTITION BY s.query_id
          |     ORDER BY s.score_u DESC, s.doc_id) AS BIGINT) AS rank FROM (
          |   SELECT q.query_id, p.doc_id, CAST(sum(p.impact_u) AS BIGINT) AS score_u
          |   FROM zq q JOIN zpost p ON p.tok = q.tok GROUP BY 1, 2) s)
          |  WHERE rank <= 5),
          |upost AS (SELECT * FROM zpost UNION ALL SELECT * FROM dpost),
          |ntop AS (SELECT query_id, doc_id, rank FROM (
          |  SELECT s.query_id, s.doc_id,
          |   CAST(row_number() OVER (PARTITION BY s.query_id
          |     ORDER BY s.score_u DESC, s.doc_id) AS BIGINT) AS rank FROM (
          |   SELECT q.query_id, p.doc_id, CAST(sum(p.impact_u) AS BIGINT) AS score_u
          |   FROM zq q JOIN upost p ON p.tok = q.tok GROUP BY 1, 2) s)
          |  WHERE rank <= 5),
          |dterm AS (SELECT DISTINCT tok FROM dpost),
          |tq AS (SELECT DISTINCT query_id FROM zq JOIN dterm USING (tok)),
          |dc AS (SELECT q.query_id,
          |   CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_delta_cand
          |  FROM zq q JOIN dpost p ON p.tok = q.tok GROUP BY 1),
          |cmp AS (SELECT query_id,
          |   max(CASE WHEN old_doc IS NULL OR new_doc IS NULL
          |     OR old_doc <> new_doc THEN 1 ELSE 0 END) AS mismatch
          |  FROM (SELECT coalesce(c.query_id, n2.query_id) AS query_id,
          |    c.doc_id AS old_doc, n2.doc_id AS new_doc
          |   FROM ctop c FULL OUTER JOIN ntop n2
          |    ON n2.query_id = c.query_id AND n2.rank = c.rank)
          |  GROUP BY 1),
          |cmn AS (SELECT c.query_id, CAST(count(*) AS BIGINT) AS n_common
          |  FROM ctop c JOIN ntop n2 ON n2.query_id = c.query_id
          |   AND n2.doc_id = c.doc_id GROUP BY 1),
          |ncd AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_cached
          |  FROM ctop GROUP BY 1),
          |qx AS (SELECT doc_id AS query_id FROM documents WHERE doc_id % 251 = 0)
          |SELECT qx.query_id,
          |  CAST(coalesce(ncd.n_cached, 0) AS BIGINT) AS n_cached,
          |  tq.query_id IS NOT NULL AS touched,
          |  CAST(coalesce(dc.n_delta_cand, 0) AS BIGINT) AS n_delta_cand,
          |  coalesce(cmp.mismatch, 0) = 1 AS changed,
          |  CAST(coalesce(cmn.n_common, 0) AS BIGINT) AS n_common
          |FROM qx LEFT JOIN ncd ON ncd.query_id = qx.query_id
          |LEFT JOIN tq ON tq.query_id = qx.query_id
          |LEFT JOIN dc ON dc.query_id = qx.query_id
          |LEFT JOIN cmp ON cmp.query_id = qx.query_id
          |LEFT JOIN cmn ON cmn.query_id = qx.query_id""".stripMargin)))

  /** Shared q326/q327 comparison CTEs: per-doc quality signal, even-id
    * docs paired at offsets {1,3,7} (a connected tournament — one fixed
    * offset against the periodic source layout gives disjoint
    * head-to-heads), deterministic winner (ties to the a-side). */
  private lazy val preferenceCmpCtes: String =
    s"""pm AS MATERIALIZED (SELECT doc_id, source, $srSql AS q FROM documents),
       |cmp AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |   a.source AS a_src, b.source AS b_src, a.q >= b.q AS a_wins
       |  FROM pm a CROSS JOIN (VALUES (1), (3), (7)) off(o)
       |  JOIN pm b ON b.doc_id = a.doc_id + off.o AND a.doc_id % 2 = 0
       |  WHERE a.source <> b.source)""".stripMargin

  private val ext48Qs = Seq(
    Q("q326_bradley_terry",
      // preference-data family opener: Bradley-Terry source strengths
      // from pairwise comparisons (adjacent-id pairing, stopword-quality
      // winner) via 10 unrolled Hunter-MM rounds — strengths in µ-units,
      // per-pair denominator terms as floored integers (order-free sums),
      // DECIMAL(38,0)/HUGEINT pre-multiplies
      (s, d) => graft.ops.Preference.bradleyTerry(T(s, d, "documents"),
        rounds = 10),
      Some {
        val roundCtes = (1 to 10).map { r =>
          s"""dd$r AS MATERIALIZED (SELECT d.s1,
             |   sum(CAST(d.n AS HUGEINT) * 1000000000000
             |     // greatest(si.s + sj.s, 1)) AS dsum
             |  FROM dirp d JOIN st${r - 1} si ON si.source = d.s1
             |  JOIN st${r - 1} sj ON sj.source = d.s2 GROUP BY 1),
             |st$r AS MATERIALIZED (SELECT w2.s1 AS source,
             |   CAST(CAST(w2.wins AS HUGEINT) * 1000000000000
             |     // greatest(d.dsum, 1) AS BIGINT) AS s
             |  FROM wt w2 JOIN dd$r d ON d.s1 = w2.s1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $preferenceCmpCtes,
           |pa AS MATERIALIZED (SELECT least(a_src, b_src) AS i, greatest(a_src, b_src) AS j,
           |   CAST(count(*) AS BIGINT) AS n,
           |   CAST(sum(CASE WHEN a_wins = (a_src < b_src) THEN 1 ELSE 0 END)
           |     AS BIGINT) AS w
           |  FROM cmp GROUP BY 1, 2),
           |dirp AS MATERIALIZED (SELECT i AS s1, j AS s2, n, w FROM pa
           |  UNION ALL SELECT j AS s1, i AS s2, n, n - w AS w FROM pa),
           |wt AS MATERIALIZED (SELECT s1, CAST(sum(n) AS BIGINT) AS n_comp,
           |   CAST(sum(w) AS BIGINT) AS wins FROM dirp GROUP BY 1),
           |st0 AS MATERIALIZED (SELECT s1 AS source, CAST(1000000 AS BIGINT) AS s FROM wt),
           |$roundCtes,
           |srcs AS (SELECT DISTINCT source FROM documents)
           |SELECT s.source,
           |  CAST(coalesce(w2.n_comp, 0) AS BIGINT) AS n_comparisons,
           |  CAST(coalesce(w2.wins, 0) AS BIGINT) AS n_wins,
           |  CAST(coalesce(w2.wins, 0) * 1000000
           |    // greatest(coalesce(w2.n_comp, 0), 1) AS BIGINT) AS win_u,
           |  CAST(coalesce(stN.s, 0) AS BIGINT) AS strength_u,
           |  CAST(row_number() OVER (ORDER BY coalesce(stN.s, 0) DESC, s.source)
           |    AS BIGINT) AS rank
           |FROM srcs s LEFT JOIN wt w2 ON w2.s1 = s.source
           |LEFT JOIN st10 stN ON stN.source = s.source""".stripMargin
      }),

    Q("q327_position_bias",
      // the preference-annotation artifact audit: md5-derived presented-
      // first flag per comparison; win rate shown-first vs shown-second
      // per source + '(all)'. The synthesized winner rule never sees the
      // order column, so the audit also pins the clean-signal null case
      (s, d) => graft.ops.Preference.positionBias(T(s, d, "documents")),
      Some(s"""WITH $preferenceCmpCtes,
              |cmpp AS (SELECT *,
              |   ${duckH60("'pos:' || CAST(a_id AS VARCHAR) || ':' || CAST(b_id AS VARCHAR)")} % 2 = 0 AS a_first
              |  FROM cmp),
              |sides AS (SELECT a_src AS source, a_first AS first, a_wins AS won FROM cmpp
              |  UNION ALL SELECT b_src, NOT a_first, NOT a_wins FROM cmpp),
              |wa AS (SELECT source, first, won FROM sides
              |  UNION ALL SELECT '(all)', first, won FROM sides)
              |SELECT source,
              |  CAST(sum(CASE WHEN first THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
              |  CAST(sum(CASE WHEN first AND won THEN 1 ELSE 0 END) AS BIGINT) AS n_wins_first,
              |  CAST(sum(CASE WHEN NOT first THEN 1 ELSE 0 END) AS BIGINT) AS n_second,
              |  CAST(sum(CASE WHEN NOT first AND won THEN 1 ELSE 0 END) AS BIGINT) AS n_wins_second,
              |  CAST(sum(CASE WHEN first AND won THEN 1 ELSE 0 END) * 1000000
              |    // greatest(sum(CASE WHEN first THEN 1 ELSE 0 END), 1) AS BIGINT) AS win_first_u,
              |  CAST(sum(CASE WHEN NOT first AND won THEN 1 ELSE 0 END) * 1000000
              |    // greatest(sum(CASE WHEN NOT first THEN 1 ELSE 0 END), 1) AS BIGINT) AS win_second_u,
              |  CAST(sum(CASE WHEN first AND won THEN 1 ELSE 0 END) * 1000000
              |    // greatest(sum(CASE WHEN first THEN 1 ELSE 0 END), 1)
              |   - sum(CASE WHEN NOT first AND won THEN 1 ELSE 0 END) * 1000000
              |    // greatest(sum(CASE WHEN NOT first THEN 1 ELSE 0 END), 1) AS BIGINT) AS lift_u
              |FROM wa GROUP BY 1""".stripMargin)))

  val all: Seq[Q] =
    scanQs ++ joinQs ++ aggQs ++ sortSetQs ++ graphQs ++ centralityQs ++
      dedupQs ++ simQs ++ collationQs ++ extQs ++ ext2Qs ++ ext3Qs ++ ext4Qs ++
      ext5Qs ++ ext6Qs ++ ext7Qs ++ ext8Qs ++ ext9Qs ++ ext10Qs ++ ext11Qs ++
      ext12Qs ++ ext13Qs ++ ext14Qs ++ ext15Qs ++ ext16Qs ++ ext17Qs ++
      ext18Qs ++ ext19Qs ++ ext20Qs ++ ext21Qs ++ ext22Qs ++ ext23Qs ++
      ext24Qs ++ ext25Qs ++ ext26Qs ++ ext27Qs ++ ext28Qs ++ ext29Qs ++ ext30Qs ++ ext31Qs ++ ext32Qs ++ ext33Qs ++ ext34Qs ++ ext35Qs ++ ext36Qs ++ ext37Qs ++ ext38Qs ++ ext39Qs ++ ext40Qs ++ ext41Qs ++ ext42Qs ++ ext43Qs ++ ext44Qs ++ ext45Qs ++ ext46Qs ++ ext47Qs ++ ext48Qs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
