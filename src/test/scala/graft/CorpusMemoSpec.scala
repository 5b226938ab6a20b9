package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables.CorpusMemo

/** `CorpusMemo` is the one definition of every per-corpus artifact the
  * demo registry serves: it must build once per content stamp (also
  * under concurrent callers), rebuild when the backing parquet is
  * rewritten, rebuild a session-scoped value for a new SparkSession,
  * and let one artifact's builder ask another memo for its input.
  * Each case counts builds on a toy table under a temp dir.
  */
class CorpusMemoSpec extends SparkTestBase {

  private def writeToy(dir: String, n: Int): Unit =
    spark.range(n).toDF("id")
      .write.mode("overwrite").parquet(s"$dir/toy.parquet")

  private def toyDir(tag: String, n: Int): String = {
    val dir = Files.createTempDirectory(s"graft_memo_$tag").toString
    writeToy(dir, n)
    dir
  }

  private def toyRows(s: SparkSession, dir: String): Long =
    s.read.parquet(s"$dir/toy.parquet").count()

  test("a builder runs once per content stamp, across repeated calls " +
       "and two concurrent callers") {
    val builds = new AtomicInteger
    val memo = new CorpusMemo[Long]("toy")((s, dir) => {
      builds.incrementAndGet()
      Thread.sleep(200) // widen the window a racing second build needs
      toyRows(s, dir)
    })
    val dir = toyDir("once", 3)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val got = (1 to 2).map(_ => pool.submit(() => {
        start.await()
        memo(spark, dir)
      }))
      start.countDown()
      assert(got.map(_.get(60, TimeUnit.SECONDS)) == Seq(3L, 3L))
    } finally pool.shutdown()
    assert(memo(spark, dir) == 3L && memo(spark, dir) == 3L)
    assert(builds.get == 1)
  }

  test("rewriting the backing parquet changes the stamp and rebuilds") {
    val builds = new AtomicInteger
    val memo = new CorpusMemo[Long]("toy")((s, dir) => {
      builds.incrementAndGet()
      toyRows(s, dir)
    })
    val dir = toyDir("stamp", 3)
    assert(memo(spark, dir) == 3L && memo(spark, dir) == 3L)
    assert(builds.get == 1)
    writeToy(dir, 5)
    assert(memo(spark, dir) == 5L && memo(spark, dir) == 5L)
    assert(builds.get == 2)
  }

  test("a value failing its validity check in a new session is rebuilt " +
       "there") {
    val builds = new AtomicInteger
    val memo = new CorpusMemo[DataFrame]("toy")(
      (s, dir) => {
        builds.incrementAndGet()
        s.read.parquet(s"$dir/toy.parquet")
      },
      (s, frame) => frame.sparkSession eq s)
    val dir = toyDir("session", 3)
    val first = memo(spark, dir)
    assert((memo(spark, dir) eq first) && builds.get == 1)
    val other = spark.newSession()
    val rebuilt = memo(other, dir)
    assert(builds.get == 2)
    assert(rebuilt.sparkSession eq other)
    assert(rebuilt.count() == 3L)
    assert(memo(other, dir) eq rebuilt)
  }

  test("a builder that asks another memo for its input completes") {
    val modelBuilds, routingBuilds = new AtomicInteger
    val model = new CorpusMemo[Long]("toy")((s, dir) => {
      modelBuilds.incrementAndGet()
      toyRows(s, dir)
    })
    val routing = new CorpusMemo[Long]("toy")((s, dir) => {
      routingBuilds.incrementAndGet()
      model(s, dir) * 10L
    })
    val dir = toyDir("nested", 4)
    assert(routing(spark, dir) == 40L && routing(spark, dir) == 40L)
    assert(model(spark, dir) == 4L)
    assert(modelBuilds.get == 1 && routingBuilds.get == 1)
  }
}
