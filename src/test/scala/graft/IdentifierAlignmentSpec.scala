package graft

import graft.stage2.IdentifierAlignment

/** B3 identifier-extraction cases (FIXTURES.md): detector fan-out,
  * prefix-skip gate, whole-input candidate quirk, name branch, merge.
  */
class IdentifierAlignmentSpec extends SparkTestBase {

  private def align = new IdentifierAlignment(TestFixtures.synonymizer(spark))

  private def idsDf(rows: (String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("key", "id")
  }
  private def namesDf(rows: (String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("key", "name")
  }

  test("bare KEGG suffix resolves through the detector fan-out (R1)") {
    val out = align.alignIds(idsDf("d1" -> "C00001")).collect()
    assert(out.map(_.getString(1)).toSet == Set("CHEBI:15377"))
    assert(out.head.getString(2) == "water")
  }

  test("prefixed ids are skipped by the ':' gate") {
    val out = align.alignIds(idsDf("d1" -> "SMPDB:SMP00001")).collect()
    assert(out.isEmpty)
  }

  test("UniProt accession resolves; candidate is prefix + ENTIRE input") {
    val out = align.alignIds(idsDf("d2" -> "P45059")).collect()
    assert(out.map(_.getString(1)).toSet == Set("UniProtKB:P45059"))
  }

  test("non-matching garbage yields nothing") {
    assert(align.alignIds(idsDf("d1" -> "zzz!")).collect().isEmpty)
  }

  test("names branch + merge is a set union (first-wins ≡ distinct)") {
    val out = align.mechanisticNodes(
        namesDf("d1" -> "Aspirin", "d1" -> "asthma"),
        idsDf("d1" -> "C00001", "d1" -> "50-78-2"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(out == Set(
      ("d1", "CHEBI:15365"),   // by name "Aspirin" AND by CAS id — merged
      ("d1", "MONDO:0004979"),
      ("d1", "CHEBI:15377")))
  }

  test("map-form mechanistic_intermediate_nodes shape") {
    import org.apache.spark.sql.functions.{col, struct}
    val m = align.mechanisticNodes(
        namesDf("d1" -> "Aspirin"), idsDf("d1" -> "C00001"))
      .groupBy("key")
      .agg(graft.ops.AggOps.matchMap(col("preferred_curie"),
        struct(col("name"), col("category")).as("info")))
      .collect()
    assert(m.length == 1)
    val map = m.head.getMap[String, org.apache.spark.sql.Row](1)
    assert(map.keySet == Set("CHEBI:15365", "CHEBI:15377"))
  }
}
