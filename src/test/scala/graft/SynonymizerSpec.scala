package graft

import org.apache.spark.sql.Row

/** SURVEY §5.2 unit coverage for the synonymizer query API (EP3). */
class SynonymizerSpec extends SparkTestBase {

  private def syn = TestFixtures.synonymizer(spark)

  private def canonicalByName(inputs: String*): Map[String, Option[(String, String, String)]] =
    syn.canonicalCuriesByName(TestFixtures.inputsDf(spark, inputs))
      .collect()
      .map(r => r.getString(0) -> Option(r.getString(1))
        .map(c => (c, r.getString(2), r.getString(3))))
      .toMap

  test("canonical by curie: prefix capitalization + cluster resolution") {
    val out = syn.canonicalCuriesByCurie(
        TestFixtures.inputsDf(spark, Seq("chebi:15365", "DRUGBANK:DB00945")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("chebi:15365") == "CHEBI:15365")
    assert(out("DRUGBANK:DB00945") == "CHEBI:15365")
  }

  test("canonical by name: simplification + argmax cluster (A1)") {
    val out = canonicalByName("As pi-RIN.")
    // "aspirin" appears 2× in CHEBI:15365, 1× in CHEBI:999 → argmax wins
    assert(out("As pi-RIN.").map(_._1).contains("CHEBI:15365"))
    assert(out("As pi-RIN.").map(_._2).contains("Aspirin"))
    assert(out("As pi-RIN.").map(_._3).contains("biolink:SmallMolecule"))
  }

  test("argmax tie-break: smallest cluster_id wins (SURVEY §6.1)") {
    val out = canonicalByName("Ibuprofen")
    assert(out("Ibuprofen").map(_._1).contains("CHEBI:200"))
  }

  test("anti-fill totality (SET1): every input appears; misses are null") {
    val inputs = Seq("aspirin", "nonexistent thing", "asthma")
    val out = canonicalByName(inputs: _*)
    assert(out.keySet == inputs.toSet)
    assert(out("nonexistent thing").isEmpty)
    assert(out("asthma").map(_._1).contains("MONDO:0004979"))
  }

  test("curie-else-name fallback (J6)") {
    val out = syn.canonicalCuriesFallback(
        TestFixtures.inputsDf(spark, Seq("uniprotkb:P45059", "Asthma", "zzz")))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("uniprotkb:P45059").contains("UniProtKB:P45059"))
    assert(out("Asthma").contains("MONDO:0004979"))
    assert(out("zzz").isEmpty)
  }

  test("equivalent nodes (J7): member array sorted by uppercased id") {
    val out = syn.equivalentNodes(
        TestFixtures.inputsDf(spark, Seq("CHEBI:15365", "missing:1")))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[String](1))).toMap
    assert(out("CHEBI:15365").contains(
      Seq("CAS:50-78-2", "CHEBI:15365", "DRUGBANK:DB00945")))
    assert(out("missing:1").isEmpty)
    // include_unrecognized_entities=False drops misses entirely
    // (node_synonymizer.py:208-214)
    val dropped = syn.equivalentNodes(
        TestFixtures.inputsDf(spark, Seq("CHEBI:15365", "missing:1")),
        includeUnrecognized = false)
      .collect().map(_.getString(0))
    assert(dropped.toSeq == Seq("CHEBI:15365"))
  }

  test("equivalent nodes fallback: name retry resolves what the curie " +
       "path misses (CLI -e, node_synonymizer.py:473-477)") {
    val out = syn.equivalentNodesFallback(
        TestFixtures.inputsDf(spark, Seq("aspirin", "CHEBI:15365", "zzz")))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[String](1))).toMap
    // "aspirin" fails as a curie, resolves as a name to the argmax cluster
    assert(out("aspirin").contains(
      Seq("CAS:50-78-2", "CHEBI:15365", "DRUGBANK:DB00945")))
    assert(out("CHEBI:15365").contains(
      Seq("CAS:50-78-2", "CHEBI:15365", "DRUGBANK:DB00945")))
    assert(out("zzz").isEmpty)
  }

  test("normalizer results: member detail + category histogram (A5)") {
    val rows = syn.normalizerResults(
        TestFixtures.inputsDf(spark, Seq("aspirin", "nope"))).collect()
    val byInput = rows.map(r => r.getString(0) -> r).toMap
    val asp = byInput("aspirin")
    assert(asp.getString(1) == "CHEBI:15365")
    val memberIds = asp.getSeq[Row](4).map(_.getString(0))
    assert(memberIds == Seq("CAS:50-78-2", "CHEBI:15365", "DRUGBANK:DB00945"))
    // histogram keys are biolink:-prefixed (node_synonymizer.py:275-276
    // tallies the prefixed node categories)
    val cats = asp.getMap[String, Long](5)
    assert(cats == Map("biolink:SmallMolecule" -> 2L, "biolink:Drug" -> 1L))
    // preferred_category comes from the representative node (the member
    // whose id == cluster_id, node_synonymizer.py:262-267)
    assert(asp.getString(3) == "biolink:SmallMolecule")
    assert(byInput("nope").isNullAt(1))
  }

  test("normalizer minimal output keeps only the preferred-id block " +
       "(node_synonymizer.py:288-295)") {
    val df = syn.normalizerResults(
      TestFixtures.inputsDf(spark, Seq("aspirin", "nope")),
      outputFormat = "minimal")
    assert(df.columns.toSeq ==
      Seq("input", "preferred_curie", "preferred_name", "preferred_category"))
    val byInput = df.collect().map(r => r.getString(0) -> r).toMap
    assert(byInput("aspirin").getString(1) == "CHEBI:15365")
    assert(byInput("aspirin").getString(3) == "biolink:SmallMolecule")
    assert(byInput("nope").isNullAt(1))
    intercept[IllegalArgumentException] {
      syn.normalizerResults(
        TestFixtures.inputsDf(spark, Seq("aspirin")), outputFormat = "huge")
    }
  }

  test("return_all_categories on canonical lookup " +
       "(node_synonymizer.py:121-141)") {
    val df = syn.canonicalCuriesByCurie(
      TestFixtures.inputsDf(spark, Seq("chebi:15365", "zzz")),
      returnAllCategories = true)
    assert(df.columns.toSeq ==
      Seq("input", "preferred_curie", "preferred_name", "preferred_category",
          "all_categories"))
    val byInput = df.collect().map(r => r.getString(0) -> r).toMap
    val cats = byInput("chebi:15365").getMap[String, Long](4)
    assert(cats == Map("biolink:SmallMolecule" -> 2L, "biolink:Drug" -> 1L))
    assert(byInput("zzz").isNullAt(4))
    // fallback path carries the flag too
    val fb = syn.canonicalCuriesFallback(
        TestFixtures.inputsDf(spark, Seq("aspirin")),
        returnAllCategories = true)
      .collect().head
    assert(fb.getMap[String, Long](4).nonEmpty)
  }

  test("clusterByCurie keeps ONE row per input on cross-cluster " +
       "id_simplified collisions (node_synonymizer.py:80-86)") {
    import spark.implicits._
    // same id_simplified "DUP:1" maps to nodes in two different clusters
    val nodes = Seq(
      TestFixtures.Node("DUP:1", "DUP:1", "dup a", "dupa", "Drug", "CL:B",
        "ChemicalEntity", null, null, null, null),
      TestFixtures.Node("DUP:1b", "DUP:1", "dup b", "dupb", "Drug", "CL:A",
        "ChemicalEntity", null, null, null, null)).toDF()
    val clusters = Seq(
      TestFixtures.Cluster("CL:A", "A", "Drug", Seq("DUP:1b"), Seq()),
      TestFixtures.Cluster("CL:B", "B", "Drug", Seq("DUP:1"), Seq())).toDF()
    val syn2 = new graft.synonymizer.Synonymizer(
      nodes, clusters, TestFixtures.edgesDf(spark))
    val out = syn2.canonicalCuriesByCurie(
        TestFixtures.inputsDf(spark, Seq("dup:1")))
      .collect()
    assert(out.length == 1)
    // deterministic pick: smallest cluster_id
    assert(out.head.getString(1) == "CL:A")
  }

  test("suffix search (R2): fan-out then canonical resolution") {
    val out = syn.suffixSearch(
        TestFixtures.inputsDf(spark, Seq("15365", "notasuffix")),
        Seq("CHEBI", "MESH"))
      .collect()
    val hits = out.filter(_.getString(1) != null)
    assert(hits.length == 1)
    assert(hits.head.getString(1) == "CHEBI:15365")
    assert(hits.head.getString(2) == "CHEBI:15365")
    // null-fill row for the miss
    assert(out.exists(r => r.getString(0) == "notasuffix" && r.isNullAt(1)))
  }

  test("suffix search: input containing ':' bypasses the fan-out and " +
       "probes as a curie (node_synonymizer.py:44-46)") {
    val out = syn.suffixSearch(
        // drugbank:DB00945 would NOT resolve via the CHEBI/MESH fan-out;
        // the colon passthrough probes it directly (capitalized)
        TestFixtures.inputsDf(spark, Seq("drugbank:DB00945", "x:y")),
        Seq("CHEBI", "MESH"))
      .collect()
    val hit = out.filter(_.getString(0) == "drugbank:DB00945")
    assert(hit.length == 1)
    assert(hit.head.getString(1) == "drugbank:DB00945") // own value = candidate
    assert(hit.head.getString(2) == "CHEBI:15365")
    assert(out.exists(r => r.getString(0) == "x:y" && r.isNullAt(1)))
  }

  test("fromRawDump: stringified-Python-list cluster columns resolve " +
       "identically to the native-array fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // serialize the fixture clusters to the real sqlite dump shape
    val raw = TestFixtures.clusters.map { c =>
      val members =
        if (c.member_ids.isEmpty) "nan"
        else c.member_ids.map(m => s"'$m'").mkString("[", ", ", "]")
      val edgeIds =
        if (c.intra_cluster_edge_ids.isEmpty) "nan"
        else c.intra_cluster_edge_ids.map(e => s"'$e'").mkString("[", ", ", "]")
      (c.cluster_id, c.name, c.category, members, edgeIds)
    }.toDF("cluster_id", "name", "category", "member_ids",
           "intra_cluster_edge_ids")
    val syn2 = graft.synonymizer.Synonymizer.fromRawDump(
      TestFixtures.nodesDf(spark), raw, TestFixtures.edgesDf(spark))
    val out = syn2.equivalentNodes(
        TestFixtures.inputsDf(spark, Seq("CHEBI:15365")))
      .collect().head.getSeq[String](1)
    assert(out == Seq("CAS:50-78-2", "CHEBI:15365", "DRUGBANK:DB00945"))
    val (members, clusterEdges) = syn2.clusterTable("CHEBI:15365")
    assert(members.count() == 3 && clusterEdges.count() == 2)
  }

  test("full and minimal formats agree on preferred_curie for a " +
       "memberless cluster (raw dump 'nan' member list)") {
    import spark.implicits._
    // cluster resolvable by curie but with member_ids='nan' → the full
    // format's member-derived preferred_curie is null pre-coalesce
    val rawClusters = Seq(("XTEST:1", "xthing", "SmallMolecule",
                           "nan", "nan"))
      .toDF("cluster_id", "name", "category", "member_ids",
            "intra_cluster_edge_ids")
    val nodes = Seq(TestFixtures.Node("XTEST:1", "XTEST:1", "xthing",
        "xthing", "SmallMolecule", "XTEST:1", "ChemicalEntity",
        "xthing", "SmallMolecule", "xthing", "SmallMolecule"))
      .toDF()
    val syn2 = graft.synonymizer.Synonymizer.fromRawDump(
      nodes, rawClusters, TestFixtures.edgesDf(spark).limit(0))
    val inputs = TestFixtures.inputsDf(spark, Seq("XTEST:1"))
    val full = syn2.normalizerResults(inputs)
      .select("input", "preferred_curie").collect().head
    val minimal = syn2.normalizerResults(inputs, outputFormat = "minimal")
      .select("input", "preferred_curie").collect().head
    assert(full.getString(1) == "XTEST:1",
      s"full-format preferred_curie must fall back to the cluster id, " +
        s"got $full")
    assert(minimal.getString(1) == full.getString(1))
  }

  test("cluster table (U5 debug)") {
    val (members, clusterEdges) = syn.clusterTable("CHEBI:15365")
    assert(members.count() == 3)
    assert(clusterEdges.count() == 2)
    // CLI shape: name resolves first, then the cluster prints
    val byName = syn.clusterTableFor("aspirin")
    assert(byName.map(_._1.count()).contains(3L))
    assert(syn.clusterTableFor("no such thing").isEmpty)
  }

  test("cluster table markdown render (U5, node_synonymizer.py:331-339)") {
    val md = syn.renderClusterTable("aspirin").getOrElse(fail("no cluster"))
    // headline counts mirror the reference's print order: edges first
    assert(md.indexOf("has 2 edges:") >= 0)
    assert(md.indexOf("has 3 nodes:") > md.indexOf("has 2 edges:"))
    // pipe-table header rows with the reference's column subsets
    // (padding is width-dependent, so compare whitespace-collapsed)
    val squashed = md.replaceAll(" +", " ")
    assert(squashed.contains(
      "| subject | predicate | object | upstream_resource_id |" +
        " primary_knowledge_source |"))
    assert(squashed.contains("| id | category | name |"))
    // one data row spot-check, padded to column width
    assert(md.contains("| CHEBI:15365"))
    assert(md.contains("| same_as"))
    assert(syn.renderClusterTable("no such thing").isEmpty)
  }

  test("ShuffleProbe (salted name join) is bit-equal to the broadcast " +
       "probe path across the query families — argmax ties, misses, " +
       "and fallback included (VERDICT r14 #5)") {
    val shuffled = new graft.synonymizer.Synonymizer(
      TestFixtures.nodesDf(spark), TestFixtures.clustersDf(spark),
      TestFixtures.edgesDf(spark),
      probeJoin = graft.synonymizer.Synonymizer.ShuffleProbe(salt = 4))
    val inputs = TestFixtures.inputsDf(spark, Seq(
      "As pi-RIN.", "water", "chebi:15365", "DRUGBANK:DB00945",
      "no such thing", "acetylsalicylic acid"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(Option(_).map(_.toString))).toSet
    assert(rows(shuffled.canonicalCuriesByName(inputs)) ==
           rows(syn.canonicalCuriesByName(inputs)))
    assert(rows(shuffled.canonicalCuriesByCurie(inputs)) ==
           rows(syn.canonicalCuriesByCurie(inputs)))
    assert(rows(shuffled.canonicalCuriesFallback(inputs)) ==
           rows(syn.canonicalCuriesFallback(inputs)))
    assert(rows(shuffled.equivalentNodes(inputs, byName = true)) ==
           rows(syn.equivalentNodes(inputs, byName = true)))
    // plan sanity: the name join runs on the salted COMPOSITE key
    // (psalt/nsalt) — xxhash64 itself constant-folds into the local
    // fixture relation, so the key names are the stable witness
    val plan = shuffled.canonicalCuriesByName(inputs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("psalt") && plan.contains("nsalt"),
      s"salted name-join keys missing from plan:\n$plan")
  }

  test("lookups leave no cache entry behind: four calls of each " +
       "fallback / all-categories / normalizer operation keep the " +
       "CacheManager empty") {
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val in = TestFixtures.inputsDf(spark,
      Seq("aspirin", "chebi:15365", "Asthma", "zzz"))
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "canonicalCuriesFallback" -> (() => syn.canonicalCuriesFallback(in)),
      "canonicalCuriesFallback(all categories)" ->
        (() => syn.canonicalCuriesFallback(in, returnAllCategories = true)),
      "canonicalCuriesByCurie(all categories)" ->
        (() => syn.canonicalCuriesByCurie(in, returnAllCategories = true)),
      "canonicalCuriesByName(all categories)" ->
        (() => syn.canonicalCuriesByName(in, returnAllCategories = true)),
      "equivalentNodesFallback" -> (() => syn.equivalentNodesFallback(in)),
      "normalizerResults(full)" -> (() => syn.normalizerResults(in)),
      "normalizerResults(minimal)" ->
        (() => syn.normalizerResults(in, outputFormat = "minimal")))
    ops.foreach { case (name, op) =>
      (1 to 4).foreach(_ => assert(op().collect().length == 4))
      assert(cacheManager.isEmpty, s"$name left cache entries behind")
    }
  }
}
