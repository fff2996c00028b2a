package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own checks of its measurement rules; run by
  * `perfbench/test_bench.py`. Exits non-zero on the first failure.
  */
object SelfTest {

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
    else println(s"ok: $what")

  def main(args: Array[String]): Unit = {
    // tail rule: the highest percentile with at least ten samples beyond it
    check(Stats.supportedTail(100).contains(90.0), "100 samples support p90")
    check(Stats.supportedTail(99).contains(75.0), "99 samples support p75, not p90")
    check(Stats.supportedTail(200).contains(95.0), "200 samples support p95")
    check(Stats.supportedTail(1000).contains(99.0), "1000 samples support p99")
    check(Stats.supportedTail(19).isEmpty, "19 samples support no tail")
    check(Stats.beyond(100, 90) == 10, "10 of 100 samples lie beyond p90")
    check(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5, "interpolated median")

    val spark = SparkSession.builder().master("local[2]").appName("graftbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val df = spark.range(0, 500).select(
        col("id"), (col("id") % 7).as("k"), (col("id") / 3.0).as("x"),
        array(col("id"), col("id") + 1).as("arr"),
        when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("t"), col("id"))).as("s"))
      val d0 = Digest.of(df)
      check(d0 == Digest.of(df.orderBy(col("id").desc)), "digest ignores row order")
      check(d0 == Digest.of(df.repartition(7)), "digest ignores partitioning")
      check(d0 == Digest.of(df.repartition(3, col("k")).sortWithinPartitions("x")),
        "digest ignores hash partitioning and per-partition order")
      check(d0 != Digest.of(df.filter(col("id") =!= 42)), "digest sees a missing row")
      check(d0 != Digest.of(df.union(df.filter(col("id") === 42))), "digest sees a duplicated row")
      check(d0 != Digest.of(df.withColumn("x", col("x") + 1e-3)), "digest sees a changed value")
      check(Digest.of("s", Seq(Row(0.1 + 0.2))) == Digest.of("s", Seq(Row(0.3))),
        "digest absorbs last-bit float differences")
    } finally spark.stop()
  }
}
