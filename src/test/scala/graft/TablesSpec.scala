package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** `Tables.parquet`: a re-read of an unchanged input or landed store
  * starts no Spark job before the query's own plan runs, and a path
  * overwritten with a new schema is inferred again. Jobs are counted
  * with a SparkListener, by the job group of the thread that started
  * them. */
class TablesSpec extends SparkSpec {

  /** `body`'s result and the number of jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables_spec_${System.nanoTime()}"
    val sentinel = s"${group}_end"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "under test")
      val out = try body finally sc.clearJobGroup()
      // the bus delivers events in order: once the sentinel job is
      // seen, every job `body` started has been counted
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(sentinel), "the listener never saw the sentinel job")
      (out, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  test("a second Tables.documents read of an unchanged path starts no job") {
    val path = s"$sfDir/documents.parquet"
    // control: a plain read pays a schema-inference job, so a zero
    // below is the reader's doing, not a blind listener
    assert(jobsDuring(spark.read.parquet(path))._2 >= 1)
    Tables.documents(spark, sfDir)
    val (df, jobs) = jobsDuring(Tables.documents(spark, sfDir))
    assert(jobs == 0, s"$jobs job(s) before the action")
    val plain = spark.read.parquet(path)
    assert(df.schema == plain.schema)
    assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
  }

  test("an overwrite with an added column is read with the new column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/t.parquet"
    spark.range(5).toDF("a").write.parquet(path)
    assert(Tables.t(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(jobsDuring(Tables.t(spark, dir, "t"))._2 == 0)
    spark.range(5).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(path)
    val df = Tables.t(spark, dir, "t")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.agg(sum("b")).first().getLong(0) == 20L)
  }

  test("a second dedup_incremental call starts no job during its build") {
    val first = Dedup.dedupIncremental(spark, sfDir).collect().toSeq
    val (df, jobs) = jobsDuring(Dedup.dedupIncremental(spark, sfDir))
    assert(jobs == 0, s"$jobs job(s) while building the probe")
    assert(df.collect().toSeq == first)
  }
}
