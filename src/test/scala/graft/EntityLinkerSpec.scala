package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.constants.Constants
import graft.ner._

/** The fused multi-pass seam of [[EntityLinker]]: for any pass map,
  * `textToKg2NodesByPass` must equal the union over passes of one
  * `textToKg2Nodes` call on that pass's documents with that pass's
  * categories (perform_NER.py:117-134 runs the passes separately). The
  * property runs for both shipped linkers; ScalaCheck generators are
  * driven directly with fixed seeds, as in StringOpsSpec.
  */
class EntityLinkerSpec extends SparkTestBase {

  private def nodes = TestFixtures.nodesDf(spark)
  private def clusters = TestFixtures.clustersDf(spark)

  private val vocabulary: Seq[String] = TestFixtures.nodes.map(_.name).distinct
  private val noise: Seq[String] = Seq(
    "the", "patients", "received", "binding", "was", "observed", "in",
    "tissue", "with", "chronic", "relief", "of", "x", "y" * 120)

  private val sentence: Gen[String] = for {
    n <- Gen.choose(1, 12)
    words <- Gen.listOfN(n, Gen.frequency(
      2 -> Gen.oneOf(vocabulary), 3 -> Gen.oneOf(noise)))
    end <- Gen.oneOf("", ";", ",", "!")
  } yield words.mkString(" ") + end

  private val text: Gen[String] = for {
    n <- Gen.choose(1, 3)
    ss <- Gen.listOfN(n, sentence)
  } yield ss.mkString(". ")

  private val categorySet: Gen[Set[String]] = Gen.oneOf(
    Set.empty[String], Constants.IndicationCategories,
    Constants.MechanisticCategories, Set("biolink:SmallMolecule"),
    Set("biolink:Protein", "biolink:Drug"))

  /** A non-empty pass map plus docs tagged with a pass; "stray" is never
    * in the map, so its docs must drop on both sides. */
  private val trial: Gen[(Map[String, Set[String]], Seq[(String, Long, String)])] =
    for {
      labels <- Gen.atLeastOne(Seq("ind", "mech", "all"))
      cats <- Gen.listOfN(labels.size, categorySet)
      n <- Gen.choose(1, 10)
      docs <- Gen.listOfN(n, for {
        pass <- Gen.oneOf("ind", "mech", "all", "stray")
        t <- text
      } yield (pass, t))
    } yield (labels.zip(cats).toMap,
             docs.zipWithIndex.map { case ((p, t), i) => (p, i.toLong, t) })

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def docsDf(rows: Seq[(String, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("pass", "k", "text")
      .select(struct(col("pass"), col("k")).as("pk"), col("text"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def checkParity(ner: EntityLinker): Unit = {
    val outputs = samples(trial, 8).map { case (passes, docs) =>
      val d = docsDf(docs)
      val fused = ner.textToKg2NodesByPass(d, "pk", "text", passes)
      val perPass = passes.toSeq.map { case (p, cats) =>
        ner.textToKg2Nodes(d.filter(col("pk.pass") === p), "pk", "text", cats)
      }.reduce(_.unionByName(_))
      assert(fused.schema == perPass.schema)
      val (f, u) = (rows(fused), rows(perPass))
      assert(f == u, s"passes=$passes\nonly-fused: ${f.diff(u).take(5)}\n" +
        s"only-per-pass: ${u.diff(f).take(5)}")
      f
    }
    assert(outputs.exists(_.nonEmpty),
      "sanity: the generated corpora produce matches")
    intercept[IllegalArgumentException] {
      ner.textToKg2NodesByPass(docsDf(Seq(("ind", 0L, "asthma"))), "pk",
        "text", Map.empty)
    }
  }

  test("fused by-pass linking equals per-pass linking: DictionaryNer") {
    checkParity(new DictionaryNer(nodes, clusters))
  }

  test("fused by-pass linking equals per-pass linking: ModelNer over " +
       "DictionaryDouble") {
    checkParity(new ModelNer(nodes, clusters,
      Seq(DictionaryDouble.fromNodes(nodes)),
      NerConfig(threshold = 0.5, maxEntitiesPerMention = 16, batchSize = 16)))
  }
}
