package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.constants.Constants
import graft.drugbank.{DrugBank, Sinks, Stage1, Stage2}
import graft.ner.DictionaryNer
import graft.ops.StringOps
import graft.stage2.IdentifierAlignment
import graft.synonymizer.Synonymizer

/** The paper's pipeline as a user runs it once per release: DrugBank XML
  * on disk -> Stage 1 (records, synonymizer resolution, NER) -> Stage 2
  * (name and id alignment, first-wins merge) -> JSON and parquet sinks.
  */
final class PipelineKg(spark: SparkSession, data: String) {
  private def read(t: String) = spark.read.parquet(s"$data/kg/$t")
  val nodes: DataFrame = read("nodes")
  val clusters: DataFrame = read("clusters")
  val syn = new Synonymizer(nodes, clusters, read("edges"))
  val ner = new DictionaryNer(nodes, clusters)
  val align = new IdentifierAlignment(syn)
}

object PipelineRun {
  val Passes: Map[String, Set[String]] = Map(
    "ind" -> Constants.IndicationCategories,
    "mech" -> Constants.MechanisticCategories)

  /** The timed operation: XML on disk to both sinks of both stages. */
  def apply(spark: SparkSession, kg: PipelineKg, xml: String, out: String): Unit = {
    val stage1 = Stage1.run(DrugBank.readXml(spark, xml), kg.syn, kg.ner)
    Sinks.writeCheckpoint(stage1, s"$out/stage1.parquet")
    val s1 = Sinks.readCheckpoint(spark, s"$out/stage1.parquet")
    Sinks.writeJson(s1, s"$out/stage1.json")
    Sinks.writeCheckpoint(Stage2.run(s1, kg.align), s"$out/stage2.parquet")
    Sinks.writeJson(Sinks.readCheckpoint(spark, s"$out/stage2.parquet"),
      s"$out/stage2.json")
  }

  /** Stage 1's pass-tagged NER input, built as Stage1.run builds it. */
  def nerDocs(recs: DataFrame): DataFrame = {
    val mechText = concat(Constants.MostlyTextFields.map { f =>
      when(col(f).isNotNull && length(col(f)) > 0,
        concat(StringOps.removeBrackets(col(f)), lit("\n "))).otherwise(lit(""))
    }: _*)
    recs.filter(col("indication").isNotNull)
      .select(struct(lit("ind").as("pass"), col("kg2_id").as("k")).as("pk"),
        StringOps.removeBrackets(col("indication")).as("text"))
      .unionByName(recs.select(
        struct(lit("mech").as("pass"), col("kg2_id").as("k")).as("pk"),
        mechText.as("text")))
  }
}

/** drugbank_text and drugbank_ids: untraced timed runs, or one traced run. */
final class PipelineBench(a: Args) {
  private val xml = s"${a.data}/drugs.xml"
  private val manifest = Json.read(s"${a.data}/manifest.json")
  private val truth = manifest.get("truth")
  private val drugs = truth.get("drugs").asLong
  private var attempted, failed = 0L
  // every run's sinks, checked against the planted truth by verify.py
  private val outputs = scala.collection.mutable.ArrayBuffer[String]()

  private def out(tag: String) = {
    outputs += s"${a.work}/out-$tag"
    outputs.last
  }

  /** Session start and KG load, three times in one JVM (median reported),
    * then one untimed, checked warm-up run. Cold-JIT time lands in the
    * warm-up, which is printed but not part of `setup_s`.
    */
  private def setup(): (SparkSession, PipelineKg, Seq[Double]) = {
    val loads = (1 to 3).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      Bench.timed { val spark = Bench.session(); (spark, new PipelineKg(spark, a.data)) }
    }
    val (spark, kg) = loads.last._1
    val (_, warm) = Bench.timed(PipelineRun(spark, kg, xml, out("warmup")))
    println(f"setup: ${loads.map(l => f"${l._2}%.3f").mkString(", ")} s; warm-up run $warm%.3f s")
    (spark, kg, loads.map(_._2))
  }

  /** Timed runs, each from an empty cache, until `seconds` have passed
    * and at least `min` runs are done. */
  private def timedRuns(spark: SparkSession, kg: PipelineKg, seconds: Double,
                        min: Int): Seq[Double] = {
    val start = System.nanoTime()
    val buf = scala.collection.mutable.ArrayBuffer[Double]()
    while (buf.size < min || (System.nanoTime() - start) / 1e9 < seconds) {
      Bench.dropCaches(spark)
      System.gc()
      val (_, s) = Bench.timed(PipelineRun(spark, kg, xml, out(s"run${buf.size}")))
      buf += s
    }
    buf.toSeq
  }

  def run(): Result = {
    if (a.trace) return traced()
    val (spark, kg, setups) = setup()
    val walls = timedRuns(spark, kg, a.seconds, min = 2)
    val p50 = Stats.median(walls)
    println(s"namespace: ${Bench.namespace(a, manifest.get("sizes"))}")
    println(f"pipeline runs: ${walls.size} (${walls.map(w => f"$w%.3f").mkString(", ")} s)")
    spark.stop()
    Result(attempted, failed, outputs.toSeq, Seq(
      Metric("pipeline_s", p50, "s"),
      Metric("drugs_per_s", drugs / p50, "1/s"),
      Metric("setup_s", Stats.median(setups), "s")))
  }

  private def traced(): Result = {
    val (spark, kg, _) = setup()
    val reference = Stats.median(timedRuns(spark, kg, 0, min = 1))
    Bench.dropCaches(spark)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val t = new Tracer(spark, probe, s"${a.workload}-${a.seed}")
    val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
    def layer(prefix: String, d: Delta, plan: Boolean = true): Unit = {
      put(s"$prefix.wall_s", d.wallS, "s")
      if (plan) {
        put(s"$prefix.plan_s", d.planS, "s")
        put(s"$prefix.jobs", d.jobs, "count")
        put(s"$prefix.tasks", d.tasks, "count")
        put(s"$prefix.shuffle_mb", d.shuffleMb, "MB")
      }
    }
    def mat(df: DataFrame) = df.localCheckpoint(true)
    def entries(df: DataFrame, c: String) =
      df.select(sum(size(col(c)))).head().getLong(0)
    val o = out("traced")

    // layers that tile the pipeline, each forced with its input materialized
    val (drugsM, xmlD) = t.span("xml", "pipeline")(mat(DrugBank.readXml(spark, xml)))
    val (s1M, s1D) = t.span("stage1", "pipeline")(mat(Stage1.run(drugsM, kg.syn, kg.ner)))
    val (_, p1D) = t.span("sinks.parquet", "pipeline")(
      Sinks.writeCheckpoint(s1M, s"$o/stage1.parquet"))
    val s1 = Sinks.readCheckpoint(spark, s"$o/stage1.parquet")
    val (_, j1D) = t.span("sinks.json", "pipeline")(Sinks.writeJson(s1, s"$o/stage1.json"))
    val (s2M, s2D) = t.span("stage2", "pipeline")(mat(Stage2.run(s1, kg.align)))
    val (_, p2D) = t.span("sinks.parquet", "pipeline")(
      Sinks.writeCheckpoint(s2M, s"$o/stage2.parquet"))
    val (_, j2D) = t.span("sinks.json", "pipeline")(
      Sinks.writeJson(Sinks.readCheckpoint(spark, s"$o/stage2.parquet"), s"$o/stage2.json"))
    val tiled = Seq(xmlD, s1D, p1D, j1D, s2D, p2D, j2D).map(_.wallS).sum

    // the layers inside each stage, called through their public functions
    val (recsM, recD) = t.span("records", "stage1")(mat(DrugBank.records(drugsM, kg.syn)))
    val docs = mat(PipelineRun.nerDocs(recsM))
    val (sentM, sentD) = t.span("ner.sentences", "stage1")(
      mat(kg.ner.sentences(docs, "pk", "text")))
    val (mentM, _) = t.span("ner.mentions", "stage1")(mat(kg.ner.mentions(sentM)))
    val (hitsM, linkD) = t.span("ner.link", "stage1")(
      mat(kg.ner.textToKg2NodesByPass(docs, "pk", "text", PipelineRun.Passes)))
    val (namesM, _) = t.span("stage2.mine_names", "stage2")(mat(Stage2.minedNames(s1)))
    val (idsM, _) = t.span("stage2.mine_ids", "stage2")(mat(Stage2.minedIds(s1)))
    val (alNamesM, alNamesD) = t.span("align.names", "stage2")(mat(kg.align.alignNames(namesM)))
    val (alIdsM, alIdsD) = t.span("align.ids", "stage2")(mat(kg.align.alignIds(idsM)))
    spark.sparkContext.removeSparkListener(probe)

    // counts, taken outside the spans
    val drugsOut = drugsM.count()
    val dbIds = drugsM.select(StringOps.withPrefix(Constants.DbPrefix,
      col("drugbank-id").getItem(0).getField("_VALUE")).as("input"))
    val unresolved = kg.syn.canonicalCuriesByCurie(dbIds)
      .filter(col("preferred_curie").isNull).count()
    val rawSentences = docs.select(explode(StringOps.sentences(col("text")))).count()
    val sentences = sentM.count()
    val rawMentions = sentM.select(explode(graft.functions.NGrams(
      split(trim(StringOps.stripPunct(col("sentence"))), "\\s+"), 6, 3))).count()
    val hits = hitsM.count()
    import spark.implicits._
    val detectors = Constants.IdDetectors.toDF("db_name", "prefix", "pattern")
    val candidates = idsM.filter(!col("id").contains(":")).crossJoin(broadcast(detectors))
      .filter(regexp_like(col("id"), col("pattern")))
      .select(col("key"), StringOps.curieCandidate(col("prefix"), col("id")))
      .distinct().count()
    val alignedIds = alIdsM.count()
    val existing = s1.select(col("kg2_id").as("key"),
      explode(map_keys(col("mechanistic_intermediate_nodes"))).as("preferred_curie"))
    val collisions = alNamesM.unionByName(alIdsM).select("key", "preferred_curie")
      .distinct().join(existing, Seq("key", "preferred_curie")).count()

    layer("xml", xmlD, plan = false)
    put("xml.drugs_out", drugsOut, "count")
    put("xml.input_mb", Bench.sizeMb(xml), "MB")
    put("xml.tasks", xmlD.tasks, "count")
    layer("records", recD)
    put("records.resolved", recsM.count(), "count")
    put("records.unresolved", unresolved, "count")
    put("ner.sentences.wall_s", sentD.wallS, "s")
    put("ner.sentences.rows_out", sentences, "count")
    put("ner.sentences.kept_ratio", sentences.toDouble / rawSentences, "ratio")
    put("ner.mentions.rows_out", mentM.count(), "count")
    put("ner.link.wall_s", linkD.wallS, "s")
    put("ner.link.hits", hits, "count")
    put("ner.link.hit_ratio", hits.toDouble / rawMentions, "ratio")
    put("ner.link.shuffle_mb", linkD.shuffleMb, "MB")
    put("ner.link.spill_mb", linkD.spillMb, "MB")
    put("ner.link.peak_exec_mb", linkD.peakExecMb, "MB")
    layer("stage1", s1D)
    put("stage1.ind_entries", entries(s1M, "indication_NER_aligned"), "count")
    put("stage1.mech_entries", entries(s1M, "mechanistic_intermediate_nodes"), "count")
    put("stage2.names_mined", namesM.count(), "count")
    put("stage2.ids_mined", idsM.count(), "count")
    put("align.names.wall_s", alNamesD.wallS, "s")
    put("align.names.aligned", alNamesM.count(), "count")
    put("align.ids.wall_s", alIdsD.wallS, "s")
    put("align.ids.candidates", candidates, "count")
    put("align.ids.aligned", alignedIds, "count")
    put("align.ids.useful_ratio", alignedIds.toDouble / candidates, "ratio")
    put("stage2.wall_s", s2D.wallS, "s")
    put("stage2.plan_s", s2D.planS, "s")
    put("stage2.jobs", s2D.jobs, "count")
    put("stage2.first_wins_collisions", collisions, "count")
    put("stage2.mech_entries", entries(s2M, "mechanistic_intermediate_nodes"), "count")
    put("sinks.json.wall_s", j1D.wallS + j2D.wallS, "s")
    put("sinks.json.mb", Bench.sizeMb(s"$o/stage1.json") + Bench.sizeMb(s"$o/stage2.json"), "MB")
    put("sinks.parquet.wall_s", p1D.wallS + p2D.wallS, "s")
    put("sinks.parquet.mb",
      Bench.sizeMb(s"$o/stage1.parquet") + Bench.sizeMb(s"$o/stage2.parquet"), "MB")
    put("trace.pipeline_s", reference, "s")
    put("trace.span_sum_s", tiled, "s")
    put("trace.overhead_s", tiled - reference, "s")
    put("share.ner_link", linkD.wallS / reference, "ratio")
    put("share.records_stage2", (recD.wallS + s2D.wallS) / reference, "ratio")

    // the traced counters must equal the planted truth
    val planted = Seq(
      "xml.drugs_out" -> "drugs", "records.resolved" -> "records",
      "records.unresolved" -> "unresolved", "stage1.ind_entries" -> "ind_entries",
      "stage1.mech_entries" -> "mech1_entries", "stage2.names_mined" -> "names_mined",
      "stage2.ids_mined" -> "ids_mined", "align.names.aligned" -> "names_aligned",
      "align.ids.candidates" -> "id_candidates", "align.ids.aligned" -> "ids_aligned",
      "stage2.first_wins_collisions" -> "first_wins_collisions",
      "stage2.mech_entries" -> "mech2_entries")
    attempted += 1
    val wrong = planted.filter { case (k, tk) => m(k)._1 != truth.get(tk).asDouble }
    wrong.foreach { case (k, tk) =>
      System.err.println(s"[perfbench] traced $k = ${m(k)._1}, manifest $tk = ${truth.get(tk)}")
    }
    if (wrong.nonEmpty) failed += 1

    val ns = Bench.namespace(a, manifest.get("sizes"))
    Json.write(s"${a.work}/trace.json", t.json(ns))
    println(s"namespace: $ns")
    println(f"trace: layer spans sum to $tiled%.3f s against untraced pipeline_s " +
      f"$reference%.3f s (overhead ${tiled - reference}%.3f s); spans in ${a.work}/trace.json")
    spark.stop()
    Result(attempted, failed, outputs.toSeq, m.toSeq.map { case (k, (v, u)) => Metric(k, v, u) })
  }
}
