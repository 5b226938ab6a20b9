package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Command line of [[Main]]; run.py fills in `data` and `work`. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"))
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** Checks done in the JVM, output directories still to check, metrics. */
final case class Result(attempted: Long, failed: Long, verify: Seq[String],
                        metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""verify": [${verify.map(Json.str).mkString(", ")}], "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  private val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(new File(path))
  def lines(path: String): Iterator[JsonNode] = {
    val it = scala.io.Source.fromFile(path, "UTF-8").getLines()
    it.filter(_.nonEmpty).map(mapper.readTree)
  }
  def str(s: String): String = mapper.writeValueAsString(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"metric is not finite: $d") else d.toString
  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
}

object Stats {
  /** Nearest-rank quantile (q in (0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Session handling shared by the workloads: `local[cpus]`, one process. */
object Bench {
  val cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(): SparkSession = graft.Sessions.local("perfbench", cpus.toString)

  /** Start the next timed run with nothing cached by the previous one. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def sizeMb(path: String): Double = {
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    bytes(new File(path)) / 1e6
  }

  def namespace(a: Args, sizes: JsonNode): String = {
    val host = java.net.InetAddress.getLocalHost.getHostName
    s"""{"cpus": $cpus, "host": ${Json.str(host)}, "workload": ${Json.str(a.workload)}, """ +
      s""""seed": ${a.seed}, "seconds": ${a.seconds}, "trace": ${a.trace}, "sizes": $sizes}"""
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
}
