package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `core.GraftSession` is the one session factory: the shared test session
  * comes out of it with the engine's defaults, and no other source file
  * assembles a SparkSession of its own.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("the shared test session is built by the factory at 4 cores") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("SparkSession builders appear only in core/GraftSession.scala") {
    // split so this file does not match its own needle
    val needle = "SparkSession" + ".builder("
    def scalaFiles(root: Path): Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val hits = for {
      f <- Seq("src/main", "src/test").flatMap(d => scalaFiles(Paths.get(d)))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(needle)
    } yield (f.toString, i + 1)
    assert(hits.map(_._1) === Seq("src/main/scala/graft/core/GraftSession.scala"),
      hits.map { case (f, n) => s"$f:$n" }.mkString("\n"))
  }
}
