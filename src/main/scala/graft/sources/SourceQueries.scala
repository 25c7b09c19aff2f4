package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.{ScenarioDirs, Tables}
import graft.Tables.{dec2, out2}

/** Driver-checked queries that push data THROUGH the interchange formats
  * (the reference only speaks JDBC; graft's table layer is
  * format-agnostic, and the roundtrip must be lossless).
  *
  * Each query writes a projection to a temp directory in the interchange
  * format, reads it back with an explicit schema, and aggregates the
  * re-read data. The oracle runs the same aggregate straight on the
  * parquet table — so the driver's hash compare proves the roundtrip
  * byte-faithful (Spark's CSV/JSON writers emit shortest-round-trip
  * doubles, and the readers parse them back to identical bits).
  */
object SourceQueries {
  type Q = (SparkSession, String) => DataFrame

  private def roundtrip(s: SparkSession, dir: String,
                        fmt: TableSource.Format): DataFrame =
    ScenarioDirs.run("graft_src") { tmp =>
      val subset = Tables(s, dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      TableSource.write(subset, s"$tmp/li", fmt)
      val back = TableSource.read(s, s"$tmp/li", fmt, subset.schema)
      back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("l_orderkey")).as("sum_key"),
          out2(F.sum(dec2(F.col("l_quantity")))).as("sum_qty"),
          out2(F.sum(dec2(F.col("l_extendedprice")))).as("sum_price"))
    }

  /** q_csv_roundtrip: lineitem subset → CSV → read back → aggregate. */
  def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame =
    roundtrip(s, dir, TableSource.Csv)

  /** q_json_roundtrip: the same through JSON lines. */
  def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame =
    roundtrip(s, dir, TableSource.Json)

  /** q_orc_roundtrip: the same through ORC (the other columnar format
    * ClickHouse deployments interchange with; binary-exact doubles, no
    * text parsing on the path). */
  def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame =
    roundtrip(s, dir, TableSource.Orc)

  /** q_partition_prune: hive-style partitioned layout under the gate —
    * lineitem written `partitionBy(l_returnflag)`, read back with a
    * partition-key filter, aggregated. The filter binds at PLAN time to
    * directory pruning (PartitionFilters in the scan — the spec asserts
    * non-matching partitions never become input splits), which is the
    * first-line data-skipping mechanism for any 100 TB table layout.
    * Oracle = the same filter+aggregate straight off the unpartitioned
    * table: pruning must be result-invisible. */
  def qPartitionPrune(s: SparkSession, dir: String): DataFrame =
    ScenarioDirs.run("graft_src") { tmp =>
      Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        .write.partitionBy("l_returnflag").parquet(s"$tmp/li")
      s.read.parquet(s"$tmp/li")
        .filter(F.col("l_returnflag") === "R")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("l_orderkey")).as("sum_key"),
          out2(F.sum(dec2(F.col("l_quantity")))).as("sum_qty"),
          out2(F.sum(dec2(F.col("l_extendedprice")))).as("sum_price"))
    }

  val qPartitionPruneSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      | CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |GROUP BY 1""".stripMargin

  /** The oracle aggregates the SAME subset straight off parquet: a
    * hash-match proves the interchange write+read lost nothing. */
  val roundtripSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      | CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1""".stripMargin

  /** q_state_merge: the ClickHouse -State/-Merge combinator pattern as a
    * BATCH rollup (AggregatingMergeTree / materialized-view analogue,
    * the batch twin of the streaming RollupSink): per-(type, day)
    * mergeable partial states (count/sum/min/max — each re-aggregable)
    * are persisted to parquet, read back, and MERGED to the per-type
    * final — under the ORACLE OF THE DIRECT one-pass aggregate, so the
    * hash gate proves the two-level rollup invisible. This is the
    * pattern that lets a 100 TB daily pipeline maintain pre-aggregated
    * state and serve final aggregates from state-sized scans. */
  def qStateMerge(s: SparkSession, dir: String): DataFrame =
    ScenarioDirs.run("graft_state") { tmp =>
      val partials = Tables(s, dir, "events")
        .select(F.col("event_type"),
          F.expr("unix_micros(ts) div 86400000000").as("d"),
          (dec2(F.col("value")) * 100).cast("long").as("vc"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).as("pn"), F.sum("vc").as("ps"),
          F.min("vc").as("pmn"), F.max("vc").as("pmx"))
      partials.write.mode("overwrite").parquet(s"$tmp/state")
      s.read.parquet(s"$tmp/state")
        .groupBy("event_type")
        .agg(F.sum("pn").cast("long").as("n"), F.sum("ps").cast("long").as("sum_c"),
          F.min("pmn").as("min_c"), F.max("pmx").as("max_c"))
    }

  val qStateMergeSql: String =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS sum_c,
      | CAST(MIN(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS min_c,
      | CAST(MAX(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS max_c
      |FROM events GROUP BY 1""".stripMargin

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_state_merge", qStateMerge _, Some(qStateMergeSql)),
    ("q_csv_roundtrip", qCsvRoundtrip _, Some(roundtripSql)),
    ("q_json_roundtrip", qJsonRoundtrip _, Some(roundtripSql)),
    ("q_orc_roundtrip", qOrcRoundtrip _, Some(roundtripSql)),
    ("q_partition_prune", qPartitionPrune _, Some(qPartitionPruneSql)))
}
