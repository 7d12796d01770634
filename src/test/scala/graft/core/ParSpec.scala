package graft.core

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Par]]'s contract: every thunk settles before a failure
  * propagates, concurrency is bounded without queueing (so nesting cannot
  * deadlock), the threads never hold the JVM open, and Spark local
  * properties neither leak out of a thunk nor go missing inside one.
  */
class ParSpec extends SparkSpec {
  private val cpus = Runtime.getRuntime.availableProcessors

  test("a failure returns only after every sibling finished; first failure in argument order") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.all(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); slowDone.set(true); 1 },
        () => throw new IllegalArgumentException("third")))
    }
    assert(e.getMessage === "first")
    assert(slowDone.get, "returned before the slow sibling finished")
    // argument order, not completion order: the slow failure wins
    val late = intercept[IllegalStateException] {
      Par.all(Seq(
        () => { Thread.sleep(200); throw new IllegalStateException("slow") },
        () => throw new IllegalArgumentException("fast")))
    }
    assert(late.getMessage === "slow")
    // both: the pooled thunk settles before the caller's failure propagates
    val pooledDone = new AtomicBoolean(false)
    intercept[IllegalArgumentException] {
      Par.both({ Thread.sleep(300); pooledDone.set(true) },
        throw new IllegalArgumentException("caller"))
    }
    assert(pooledDone.get)
  }

  test("100 thunks all complete with at most availableProcessors running at once") {
    val running = new AtomicInteger
    val peak = new AtomicInteger
    val out = Par.all((0 until 100).map { i => () =>
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      Thread.sleep(5)
      running.decrementAndGet()
      i
    })
    assert(out === (0 until 100))
    assert(peak.get <= cpus, s"peak ${peak.get} > $cpus")
    if (cpus > 1) assert(peak.get >= 2, "no overlap at all")
  }

  test("a call nested inside a pooled thunk completes") {
    @volatile var got: Seq[Int] = Nil
    val t = new Thread(() => {
      got = Par.all((1 to 2 * cpus).map { i => () =>
        Par.all((1 to 2 * cpus).map(j => () => { Thread.sleep(2); i * j })).sum
      })
    })
    t.setDaemon(true)
    t.start()
    t.join(60000)
    assert(!t.isAlive, "nested Par.all did not complete in 60 s")
    val n = 2 * cpus
    assert(got === (1 to n).map(i => i * n * (n + 1) / 2))
  }

  test("the pool threads are daemon") {
    val caller = Thread.currentThread
    val ran = Par.all(Seq.fill(2)(() => { Thread.sleep(50); Thread.currentThread }))
    val pooled = ran.filter(_ ne caller)
    assert(pooled.nonEmpty, "no thunk ran on the pool")
    assert(pooled.forall(_.isDaemon))
    val named = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-par-"))
    assert(named.nonEmpty && named.forall(_.isDaemon))
  }

  test("local properties: copied into each thunk, nothing set inside one outlives it") {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .getOrElse("<none>"))
    }
    sc.setJobDescription("outer")
    try {
      val seen = Par.all(Seq.fill(2 * cpus)(() => {
        val outer = sc.getLocalProperty(key)
        sc.setJobDescription("inside")
        spark.range(1).count()
        outer
      }))
      assert(seen.forall(_ == "outer"), seen)
    } finally sc.setJobDescription(null)
    assert(sc.getLocalProperty(key) == null)
    sc.addSparkListener(listener)
    try {
      Par.all(Seq.fill(2 * cpus)(() => spark.range(1).count()))
      spark.range(1).count()
      org.apache.spark.GraftListenerBridge.flushListeners(sc)
    } finally sc.removeSparkListener(listener)
    val later = descs.asScala.toSeq
    assert(later.size >= 2 * cpus + 1)
    assert(!later.contains("inside") && !later.contains("outer"), later)
  }

  test("main code reaches thread-level concurrency only through Par") {
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(main),
      s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    val banned = Seq("ExecutionContext.global", "Implicits.global", "Future.sequence",
      "Future {")
    val walk = java.nio.file.Files.walk(main)
    val offenders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Par.scala")
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        banned.filter(text.contains).map(b => s"$p: $b")
      }.toList
    finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
