package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The repeated-pass path: a query re-run in the same JVM must reuse
  * what its first run produced (generated classes, stored layouts,
  * memoized schemas and counts) and must not re-pay construction-time
  * jobs, while every memo still sees a regenerated source.
  */
class WarmPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Spark jobs started while `body` runs, with their descriptions. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?")))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    descs.toArray.toSeq.map(_.toString)
  }

  test("a warm re-run of 150 distinct whole-stage plans reuses their compiled classes") {
    // a distinct literal per plan, so each compiles its own class; the
    // working set exceeds Spark's default cache of 100, under which LRU
    // eviction makes the second round recompile nearly every class
    val n = 150
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to n).foreach { i =>
        spark.range(8).selectExpr(s"id * $i AS x").filter(s"x > $i").collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first  = round()
    val second = round()
    assert(first >= n, s"each plan must compile its own class: $first compilations")
    assert(second <= first * 0.05,
      s"warm round recompiled $second classes (cold round compiled $first)")
  }

  test("a stage compiled under one codegen stage id is reused under another") {
    def compiles(body: => Unit): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val a = spark.range(8).selectExpr("id * 1009 AS x").filter("x > 1009")
    val b = spark.range(8).selectExpr("id * 1013 AS x").filter("x > 1013")
    a.collect(); b.collect() // each alone is codegen stage 1
    // in the union b stays stage 1 and a becomes stage 2: same code,
    // different stage id, which AQE also produces between runs of a plan
    val n = compiles(b.union(a).collect())
    assert(n === 0L, s"an identical stage recompiled $n classes under a new stage id")
  }

  test("dedup_pair_quality construction runs no Spark job once its layouts are stored") {
    operators.Dedup.dedupPairQuality(spark, TestSpark.Sf) // builds the stored layouts
    val fired = jobsDuring { operators.Dedup.dedupPairQuality(spark, TestSpark.Sf) }
    assert(fired.isEmpty,
      s"construction must leave all work to the action; fired: ${fired.mkString(" | ")}")
  }

  test("Tables.cachedCount counts a regenerated source again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-count").toFile
    try {
      val d = dir.getPath
      def write(rows: Long): Unit =
        spark.range(rows).toDF("k").write.mode("overwrite").parquet(Tables.pathOf(d, "t"))
      write(10)
      assert(Tables.cachedCount(spark, d, "t") === 10L)
      write(25)
      assert(Tables.cachedCount(spark, d, "t") === 25L,
        "a rewritten table must not be served its old count")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }
}
