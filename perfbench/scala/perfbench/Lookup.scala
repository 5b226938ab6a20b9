package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.storage.StorageLevel
import graft.synonymizer.Synonymizer

final case class Request(id: Int, op: String, inputs: Seq[String])

/** synonymizer_lookup: one client sends requests of 1-1000 inputs in
  * sequence (a closed loop) to the synonymizer held in memory as a
  * service would hold it. Job and planning overhead dominate here, where
  * the pipelines resolve in one bulk join. Cached frames are never cleared
  * inside a run, so frames a query leaves persisted show as
  * `synonymizer.persisted_rdds_leaked`.
  */
final class LookupBench(a: Args) {
  private val manifest = Json.read(s"${a.data}/manifest.json")
  private val prefixes = manifest.get("prefixes").elements().asScala.map(_.asText).toSeq
  private val requests = Json.lines(s"${a.data}/requests.jsonl").map { j =>
    Request(j.get("id").asInt, j.get("op").asText,
      j.get("inputs").elements().asScala.map(_.asText).toSeq)
  }.toIndexedSeq
  private val expected: Map[Int, Map[String, JsonNode]] =
    Json.lines(s"${a.data}/expected/lookups.jsonl").map { j =>
      j.get("id").asInt -> j.get("expect").elements().asScala.map(e =>
        e.get(0).asText -> e.get(1)).toMap
    }.toMap
  // one small request per operation, from the end of the script
  private val warmups = requests.reverse.groupBy(_.op).values
    .map(_.minBy(_.inputs.size)).toSeq.sortBy(_.id)
  private var attempted, failed, inputsSeen, inputsHit = 0L

  /** Session start and KG load: the tables cached as a service holds them. */
  private def setup(): (SparkSession, Synonymizer, Double) = {
    SparkSession.getActiveSession.foreach(_.stop())
    val t0 = System.nanoTime()
    val spark = Bench.session()
    def load(t: String) = {
      val df = spark.read.parquet(s"${a.data}/kg/$t").persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    val syn = new Synonymizer(load("nodes"), load("clusters"),
      spark.read.parquet(s"${a.data}/kg/edges"))
    warmups.foreach(r => check(r, call(spark, syn, r)))
    val s = (System.nanoTime() - t0) / 1e9
    println(f"setup: $s%.3f s")
    (spark, syn, s)
  }

  private def call(spark: SparkSession, syn: Synonymizer, r: Request): Array[Row] = {
    val in: DataFrame = spark.createDataset(r.inputs)(Encoders.STRING).toDF("input")
    (r.op match {
      case "canonicalCuriesByCurie" => syn.canonicalCuriesByCurie(in)
      case "canonicalCuriesByName" => syn.canonicalCuriesByName(in)
      case "canonicalCuriesFallback" => syn.canonicalCuriesFallback(in)
      case "equivalentNodes" => syn.equivalentNodes(in)
      case "normalizerResults.full" => syn.normalizerResults(in, "full")
      case "normalizerResults.minimal" => syn.normalizerResults(in, "minimal")
      case "suffixSearch" => syn.suffixSearch(in, prefixes)
    }).collect()
  }

  /** True when every input got exactly its planted answer. */
  private def check(r: Request, rows: Array[Row]): Boolean = {
    val want = expected(r.id)
    val byInput = rows.groupBy(_.getAs[String]("input"))
    def curie(row: Row) = Option(row.getAs[String]("preferred_curie"))
    val ok = byInput.keySet == want.keySet && want.forall { case (in, w) =>
      val got = byInput(in)
      r.op match {
        case "suffixSearch" =>
          val hits = got.flatMap(curie).toSet
          if (w.isNull) got.length == 1 && hits.isEmpty
          else hits == w.elements().asScala.map(_.asText).toSet
        case _ if got.length != 1 => false
        case "equivalentNodes" =>
          val members = Option(got.head.getAs[scala.collection.Seq[String]]("equivalent_curies"))
          if (w.isNull) members.isEmpty
          else members.exists(m => m.size == w.get(1).asInt && m.contains(w.get(0).asText))
        case "normalizerResults.full" =>
          val row = got.head
          if (w.isNull) curie(row).isEmpty
          else curie(row).contains(w.get(0).asText) &&
            row.getAs[scala.collection.Seq[Row]]("nodes").size == w.get(1).asInt &&
            row.getAs[scala.collection.Map[String, Long]]("categories").values.sum ==
              w.get(1).asLong
        case _ => curie(got.head) == (if (w.isNull) None else Some(w.asText))
      }
    }
    attempted += 1
    inputsSeen += want.size
    inputsHit += want.values.count(!_.isNull)
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] request ${r.id} (${r.op}) returned wrong rows")
    }
    ok
  }

  /** The verifier on real answers, then on answers with one row altered. */
  def selfTest(): Map[String, Boolean] = {
    val (spark, syn, _) = setup()
    val picked = requests.groupBy(_.op).values.map(_.filter(r =>
      expected(r.id).values.exists(!_.isNull)).minBy(_.id)).toSeq.sortBy(_.id)
    val results = picked.map(r => r -> call(spark, syn, r))
    val good = results.forall { case (r, rows) => check(r, rows) }
    val bad = results.map { case (r, rows) =>
      val field = if (r.op == "equivalentNodes") "equivalent_curies" else "preferred_curie"
      val i = rows.indexWhere(row => !row.isNullAt(row.fieldIndex(field)))
      val f = rows(i).fieldIndex(field)
      val wrong = if (r.op == "equivalentNodes") rows(i).getSeq[String](f).tail else "WRONG:1"
      val altered = rows.updated(i, new GenericRowWithSchema(
        rows(i).toSeq.updated(f, wrong).toArray, rows(i).schema))
      r.op -> !check(r, altered)
    }
    spark.stop()
    Map("lookup answers match the manifest" -> good) ++
      bad.map { case (op, ok) => s"verifier rejects a wrong $op answer" -> ok }
  }

  def run(): Result = {
    val setups = if (a.trace) Seq(setup()) else (1 to 3).map(_ => setup())
    val (spark, syn, _) = setups.last
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    val lat = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val start = System.nanoTime()
    val rdds0 = sc.getPersistentRDDs.size
    val (jobs0, tasks0) = (probe.jobCount, probe.taskCount)
    var leakedByOp = Map[String, Int]().withDefaultValue(0)
    val script = Iterator.continually(requests).flatten
    while (lat.size < 14 || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val r = script.next()
      val before = sc.getPersistentRDDs.size
      val (rows, s) = Bench.timed(call(spark, syn, r))
      leakedByOp += r.op -> (leakedByOp(r.op) + sc.getPersistentRDDs.size - before)
      lat += r.op -> s
      check(r, rows)
    }
    val busy = lat.map(_._2).sum
    val ms = lat.map(_._2 * 1e3).toSeq
    val n = lat.size
    val leaked = sc.getPersistentRDDs.size - rdds0
    org.apache.spark.ListenerBusDrain(sc)
    println(s"namespace: ${Bench.namespace(a, manifest.get("sizes"))}")
    println(f"lookups: $n requests, p50 ${Stats.median(ms)}%.1f ms, " +
      f"p90 ${Stats.quantile(ms, 0.9)}%.1f ms; persisted RDDs +$leaked " +
      s"(${leakedByOp.filter(_._2 != 0).toSeq.sorted.map(kv => s"${kv._1} +${kv._2}").mkString(", ")})")
    val metrics =
      if (!a.trace) Seq(
        Metric("lookup_p50_ms", Stats.median(ms), "ms"),
        Metric("lookup_p90_ms", Stats.quantile(ms, 0.9), "ms"),
        Metric("lookups_per_s", n / busy, "1/s"),
        Metric("setup_s", Stats.median(setups.map(_._3)), "s"))
      else {
        val perOp = lat.groupBy(_._1).map { case (op, xs) =>
          Metric(s"synonymizer.$op.p50_ms", Stats.median(xs.map(_._2 * 1e3).toSeq), "ms")
        }.toSeq.sortBy(_.name)
        perOp ++ Seq(
          Metric("synonymizer.requests", n, "count"),
          Metric("synonymizer.p90_ms", Stats.quantile(ms, 0.9), "ms"),
          Metric("synonymizer.jobs_per_request", (probe.jobCount - jobs0).toDouble / n, "count"),
          Metric("synonymizer.tasks_per_request", (probe.taskCount - tasks0).toDouble / n, "count"),
          Metric("synonymizer.hit_ratio", inputsHit.toDouble / inputsSeen, "ratio"),
          Metric("synonymizer.persisted_rdds_leaked", leaked, "count"))
      }
    spark.stop()
    Result(attempted, failed, Nil, metrics)
  }
}
