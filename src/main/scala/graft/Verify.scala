package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.FileUtil
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated name prefixes — builder-side
    // single-query iteration; the driver always passes exactly two args
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a gate that throws writes nothing, so no earlier output may stand
    // in for it: a full run starts from an empty outDir (no dir of a
    // removed gate survives either), a selective one clears each
    // selected gate's dir before the gate runs
    if (only.isEmpty) FileUtil.fullyDelete(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      FileUtil.fullyDelete(new java.io.File(s"$outDir/$name"))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall-clock on stderr: when a driver-side run stalls
        // or hangs, THIS log line attributes it to a query without
        // archaeology (the round-6 lesson — a silent hang zeroed the
        // round; stdout stays clean for the driver's JSON contract)
        System.err.println(f"[verify] $name ok " +
          f"${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(f"[verify] $name failed after " +
          f"${(System.nanoTime() - t0) / 1e9}%.1fs: ${e.getMessage}")
      }
      // release anything the query pinned (caches, localCheckpoint
      // blocks) so 120+ queries in one JVM can't accumulate state
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
