package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** What a run leaves behind after its teardown, counted as found. */
object Leaks {
  def count(spark: SparkSession, w: Workload): Map[String, (Double, String)] = Map(
    "leak.persisted_rdds" -> (spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
    "leak.tables" -> (spark.catalog.listTables().count().toDouble, "count"),
    "leak.active_streams" -> (spark.streams.active.length.toDouble, "count"),
    "leak.boundary_files" -> (w.leftoverFiles.toDouble, "count"))

  /** Driver heap in use after full collections, MiB. Unpersists and the
    * context cleaner (broadcasts, shuffles of collected plans) finish
    * asynchronously: wait for them, so only what is still reachable counts. */
  def liveHeapMb(spark: SparkSession): Double = {
    val deadline = System.nanoTime() + 3000000000L
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Regular files under `dir` (recursive), excluding hidden/marker files. */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    }
}
