package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb JVM/codegen warmup outside any measured query
    spark.range(1000000).selectExpr("sum(id)").collect()

    /** Release everything a query may have pinned so timings are
      * independent: CacheManager entries, localCheckpoint RDD blocks, and
      * (via GC) ContextCleaner-tracked weak refs. Round-1 lesson: leaked
      * caches inflated q38 from 16 s to 90.7 s by the end of the run. */
    def releaseAll(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // host-noise sentinel: the SAME fixed query timed at the start,
    // middle, and end of the run. Round-over-round deltas then
    // self-classify — a sentinel band that shifted with the run means
    // host noise (this host's 174–217 s identical-discipline spread),
    // a stable sentinel under a moved gate means a plan change.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val sentinelName = ordered.head._1
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      ordered.head._2(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      releaseAll()
      dt
    }
    val sentStart = sentinel()
    // deterministic order; best-of-2 per query damps this host's random
    // multi-second disk-write stalls (single-straggler shuffle tasks)
    var sentMid = -1.0
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i == ordered.size / 2) sentMid = sentinel()
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { // a failed query must NOT report a (fast) timing as success
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r]", " ").take(200)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        releaseAll()
        dt
      }
      name -> (if (errors.contains(name)) -1.0 else times.min)
    }
    val sentEnd = sentinel()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val sent = s"""{"query":"$sentinelName","start":$sentStart,""" +
      s""""mid":$sentMid,"end":$sentEnd}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sentinel":$sent,"sf":"$sfDir"}"""
    println(line)
    spark.stop()
  }
}
