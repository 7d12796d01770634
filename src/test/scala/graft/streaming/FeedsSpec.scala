package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class FeedsSpec extends SparkSpec {
  private def names(dir: Path): List[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toList.sorted finally s.close()
  }
  private def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) names(p).foreach(n => rmTree(p.resolve(n)))
    Files.deleteIfExists(p); ()
  }

  test("one file per batch, modification times ascending in batch order") {
    import spark.implicits._
    val dir = Files.createTempDirectory("feeds-ok")
    try {
      Feeds.write(Seq(0, 1, 1, 2, 2, 2).toDF("b"), col("b"), 3, dir.toString)
      assert(names(dir) === List("batch-000.parquet", "batch-001.parquet", "batch-002.parquet"))
      val mtimes = names(dir).map(n => Files.getLastModifiedTime(dir.resolve(n)).toMillis)
      assert(mtimes === mtimes.sorted && mtimes.distinct.size === 3)
      assert(spark.read.parquet(dir.resolve("batch-002.parquet").toString).count() === 3)
    } finally rmTree(dir)
  }

  test("empty middle batches throw, all named, leaving neither a partial feed nor the stage") {
    import spark.implicits._
    val dir = Files.createTempDirectory("feeds-empty")
    try {
      val e = intercept[IllegalArgumentException] {
        Feeds.write(Seq(0, 0, 2, 2, 4).toDF("b"), col("b"), 5, dir.toString)
      }
      assert(e.getMessage.contains("batches 1, 3 of 5 are empty"), e.getMessage)
      assert(names(dir) === Nil)
    } finally rmTree(dir)
  }
}
