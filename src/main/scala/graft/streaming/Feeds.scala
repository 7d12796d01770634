package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

/** Micro-batch feed staging for the streaming lifecycle queries.
  *
  * The historical per-query pattern wrote the N batch files with N
  * sequential filter+coalesce(1) jobs — N full scans of the source and N
  * write ceremonies, relying on write-time ordering for the batch order
  * (FileStreamSource sorts by modification time). [[write]] produces the
  * IDENTICAL feed for NON-EMPTY batches — same rows per batch file, one
  * file per non-empty batch, same batch order — in ONE job: a single scan,
  * hash-repartitioned
  * by the batch index (each index maps to exactly one task, so exactly one
  * file per batch), written with partitionBy, then the part files are
  * moved into the feed directory with EXPLICIT ascending modification
  * times one second apart — strictly more deterministic than the
  * write-time stamps the N-pass form depended on.
  *
  * Batch membership is what the oracles replay (per-batch SET semantics —
  * every consumer aggregates/joins/distincts its micro-batch), so row
  * order inside a batch file is free to differ from the N-pass form.
  */
object Feeds {

  /** Write `df` as `n` micro-batch files under `dir`, batch index =
    * `batch` (values 0..n-1; rows with other values are dropped, matching
    * the historical `filter(batch === i)` loop).
    *
    * EMPTY batches produce no file here, whereas the historical zero-row
    * coalesce(1) append emitted an empty schema-bearing part file (its own
    * micro-batch with its own batch id) — so an empty batch would SHIFT
    * every later batch id relative to the N-pass form. Every current call
    * site feeds provably non-empty batches; a check before any file moves
    * asserts one file per expected index so a future empty-batch feed fails
    * loudly, naming every empty index, instead of silently renumbering
    * batches.
    */
  def write(df: DataFrame, batch: Column, n: Int, dir: String): Unit = {
    val stage = s"$dir/__stage"
    df.withColumn("__b", batch.cast("int"))
      .filter(col("__b") >= 0 && col("__b") < n)
      .repartition(n, col("__b"))
      .write.mode("overwrite").partitionBy("__b").parquet(stage)
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try { val it = s.iterator(); while (it.hasNext) rm(it.next()) }
        finally s.close()
      }
      Files.deleteIfExists(p); ()
    }
    // every batch is checked before any file moves, so a failure leaves
    // neither a partial feed in `dir` nor the stage behind
    val parts = try {
      // an EMPTY batch cannot reproduce the historical feed (see scaladoc:
      // the coalesce(1) form gave it an empty file and a batch id; dynamic
      // partitionBy emits nothing, shifting every later id) — fail loudly
      val pdirs = (0 until n).map(i => Paths.get(stage, s"__b=$i"))
      val empty = pdirs.indices.filterNot(i => Files.isDirectory(pdirs(i)))
      require(empty.isEmpty,
        s"feed batches ${empty.mkString(", ")} of $n are empty — batch ids would silently shift")
      pdirs.zipWithIndex.map { case (pdir, i) =>
        val s = Files.list(pdir)
        val files = try s.iterator().asScala.filter { p =>
          val nm = p.getFileName.toString
          nm.startsWith("part-") && nm.endsWith(".parquet")
        }.toList finally s.close()
        require(files.size <= 1,
          s"feed batch $i produced ${files.size} files; repartition by the batch index must yield one")
        files
      }
    } catch { case e: Throwable => rm(Paths.get(stage)); throw e }
    val base = Paths.get(dir)
    Files.createDirectories(base)
    // explicit mtimes: strictly ascending, in the past, one second apart —
    // the FileStreamSource sort key, fully pinned
    val t0 = System.currentTimeMillis() - (n + 2) * 1000L
    for ((files, i) <- parts.zipWithIndex; p <- files) {
      val dst = base.resolve(f"batch-$i%03d.parquet")
      Files.move(p, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + i * 1000L))
    }
    rm(Paths.get(stage))
  }
}
