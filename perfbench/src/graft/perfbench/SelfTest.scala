package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own Scala helpers; exits non-zero on the
  * first failure. Run by `tests/test_stats.py`. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL $what"); sys.exit(1) } else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .config("spark.sql.warehouse.dir", args(0) + "/warehouse")
      .config("spark.local.dir", args(0) + "/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val rows = (0 until 500).map(i => (i.toLong, s"s$i", i * 0.25, if (i % 7 == 0) null else Seq(i, i + 1)))
      val df = rows.toDF("a", "b", "c", "d").withColumn("e", struct($"a", $"b"))
      val d0 = Digest.of(df)
      check(Digest.of(df.orderBy(rand(7))) == d0, "digest ignores row order")
      check(Digest.of(df.repartition(5)) == d0, "digest ignores partitioning")
      check(Digest.of(df.union(df.limit(0))) == d0, "digest of the same rows via another plan")
      check(Digest.of(df.filter($"a" =!= 3)) != d0, "digest sees a missing row")
      check(Digest.of(df.withColumn("c", when($"a" === 3, 1.0).otherwise($"c"))) != d0,
        "digest sees a changed value")
      check(Digest.of(df.union(df.filter($"a" === 3))) != d0, "digest sees a duplicated row")
      check(Digest.of(df.filter(lit(false))) == "0:0", "digest of no rows")

      val s = Seq(Span(1, 0, 1, "op", 0, 100), Span(2, 1, 1, "exec", 10, 60),
        Span(3, 2, 1, "exec.job", 20, 40), Span(4, 2, 1, "exec.job", 30, 70))
      val self = Trace.selfMs(s)
      def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
      check(near(self("op"), 0.05) && near(self("exec"), 0.01) && near(self("exec.job"), 0.06),
        s"self time subtracts the union of children clipped to the parent: $self")
      check(Trace.link(Seq(Span(1, 0, 9, "op", 0, 100), Span(2, 1, 9, "exec", 50, 90)),
        Seq(Span(7, 0, 9, "exec.job", 60, 80))).last.parent == 2, "listener spans hang off the innermost open span")
    } finally spark.stop()
  }
}
