package perfbench

import org.apache.spark.sql.functions.col

import graft.Graft
import graft.operators.Snapshot

/** The build's class-loading run: starts a session and runs a scan, an
  * aggregate, a join, SQL text, a snapshot and a zip export, so that the
  * JVM's class-data archive written at its exit holds the classes every
  * benchmark run loads. Usage: `Warmup <scratch dir>`.
  */
object Warmup {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Graft.builder("perfbench-warmup", Some("local[2]"), 2)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(20000).selectExpr("id", "id % 97 AS k", "CAST(id AS DOUBLE) / 7 AS v",
        "CAST(id AS STRING) AS s", "timestamp_seconds(1704067200 + id * 60) AS ts")
      .write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    t.createOrReplaceTempView("t")
    Graft.sql(spark, "SELECT k, count(*), sum(v), max(s) FROM t GROUP BY k ORDER BY k")
      .write.format("noop").mode("overwrite").save()
    t.join(t.groupBy("k").count(), "k").write.format("noop").mode("overwrite").save()
    Snapshot.backup(t, col("ts"), s"$dir/snap")
    Snapshot.exportAs(Snapshot.restore(spark, s"$dir/snap"), s"$dir/snap.zip", "zip")
    spark.stop()
  }
}
