package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Paper-scale pipeline run: one 2M-row parquet file through the whole
  * pipeline (`Processor.processFile`), printing rows, counters, wall and
  * throughput on one `[info2m]` line.
  *
  * Usage: `runMain graft.tools.Profile <sfDir> pipeline2m`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    require(args.lift(1).contains("pipeline2m"),
      "usage: Profile <sfDir> pipeline2m")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // BASELINE-scale experiment: the reference's published number is a
    // 2M-row file end-to-end (README.md:334-343, ~124 s best backend).
    // Replicate orders with offset keys to 2M unique-grain rows, write
    // one parquet file, run the COMPLETE pipeline on it.
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val n = orders.count()
    val copies = math.max(1, (2000000 / n).toInt)
    val big = (0 until copies).map(i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    val work = java.nio.file.Files.createTempDirectory("graft_2m")
    val bigDir = work.resolve("big").toString
    big.coalesce(4).write.parquet(bigDir)
    // single logical file input: point the pipeline at the whole dir by
    // copying parts into the drop dir as one parquet file is not needed —
    // ParquetReader takes a path; give it the directory
    val drop = java.nio.file.Files.createDirectories(work.resolve("drop"))
    val dropPath = drop.resolve("orders_big.parquet")
    // merge parts into one file for a faithful single-file drop
    spark.read.parquet(bigDir).coalesce(1).write
      .parquet(work.resolve("one").toString)
    val part = java.nio.file.Files.list(work.resolve("one")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    java.nio.file.Files.copy(java.nio.file.Paths.get(part), dropPath)
    val store = new graft.store.TableStore(spark, work.resolve("tables").toString)
    val files = new graft.run.FileOps(spark.sparkContext.hadoopConfiguration,
      work.resolve("archive").toString, work.resolve("duplicates").toString)
    val proc = new graft.run.Processor(spark,
      new graft.core.SourceRegistry(Seq(graft.queries.PipelineBench.OrdersSource)),
      store, files, new graft.run.CollectingNotifier, drop.toString)
    val rows = spark.read.parquet(dropPath.toString).count()
    val t0 = System.nanoTime()
    val r = proc.processFile(dropPath.toString).get
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[info2m] rows=$rows read=${r.recordsRead} inserts=${r.publishInserts} " +
      f"wall=${secs}%.1f s throughput=${rows / secs}%.0f rows/s")
    spark.stop()
  }
}
