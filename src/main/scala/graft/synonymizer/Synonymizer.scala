package graft.synonymizer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.StringOps

/** The node-synonymizer query API (node_synonymizer.py:58-297) as pure
  * DataFrame transforms over three relations:
  *
  * {{{
  * nodes(id, id_simplified, name, name_simplified, category, cluster_id,
  *       major_branch, name_sri, category_sri, name_kg2pre, category_kg2pre)
  * clusters(cluster_id, name, category, member_ids, intra_cluster_edge_ids)
  * edges(id, subject, predicate, object, upstream_resource_id,
  *       primary_knowledge_source)
  * }}}
  *
  * Scale notes (100 TB design): `nodes` is the big side (multi-M rows) and
  * stays shuffle-partitioned by its join key; `clusters` is cluster-count
  * sized and is broadcast; probe sets (the caller's inputs) are usually
  * much smaller than `nodes`, so the probe side is broadcast into the
  * nodes scan — no full shuffle of `nodes` for a lookup. The reference's
  * per-drug sqlite connections + 5,000-key IN-batching
  * (node_synonymizer.py:400-411, utils.py:209) disappear: a probe is just
  * a join. Skew on common simplified names is handled by AQE skew-join.
  *
  * Every public method takes a DataFrame with an `input` string column and
  * returns one row per distinct input (SET1 anti-fill contract: misses
  * appear with nulls, node_synonymizer.py:143-148).
  */
object Synonymizer {
  /** Build from raw dump frames in the real synonymizer sqlite shape,
    * where `clusters.member_ids` / `intra_cluster_edge_ids` are
    * STRINGIFIED Python lists (`"['a', 'b']"`, `"nan"`, or empty —
    * node_synonymizer.py:172, 199, 315-318 decode them with
    * ast.literal_eval per query; here they are decoded ONCE at ingest
    * with the quote-translating [[StringOps.parsePyList]]).
    */
  /** How probe keys meet the nodes table (SURVEY §7.4 risk 5 /
    * VERDICT r14 #5). [[BroadcastProbe]] (default) broadcasts the
    * distinct probe frame into a map-side join — right whenever the
    * probe set fits a broadcast (every registry demo; any driver batch
    * up to millions of names). [[ShuffleProbe]] is the cluster-scale
    * path for corpus-mined probe sets too big to broadcast: a plain
    * shuffled equi-join, with the NAME join salted — the probe side
    * replicates each name across `salt` buckets and each node row
    * hashes (by node id) into one, so a Zipf-hot simplified name
    * ("aspirin" holding 1% of a KG's nodes) lands in `salt` tasks
    * instead of one. Deterministic and always-on, where AQE's skew
    * split only engages past byte thresholds (256 MB partitions — a
    * 16M-node fixture's hot name is ~2 orders of magnitude below it;
    * SCALECURVE §5b measures exactly that non-engagement). The curie
    * join is shuffled un-salted: id_simplified is per-node
    * (near-unique), so it has no hot key to split. Results are
    * bit-equal across modes (SynonymizerSpec pins it) — each node row
    * still meets each matching probe exactly once.
    */
  sealed trait ProbeJoin
  case object BroadcastProbe extends ProbeJoin
  final case class ShuffleProbe(salt: Int = 16) extends ProbeJoin {
    require(salt >= 1 && salt <= 1024, "sane salt fanout")
  }

  /** Preferred-triple projection of a cluster (node_synonymizer.py:393-398):
    * (cluster_id, preferred_curie, preferred_name, preferred_category) —
    * the cluster id is the canonical curie; category gets the biolink:
    * prefix (node_synonymizer.py:363-368). The lookups here and both NER
    * linkers' dictionaries all project clusters through this function.
    */
  def preferred(clusters: DataFrame): DataFrame =
    clusters.select(
      col("cluster_id"),
      col("cluster_id").as("preferred_curie"),
      col("name").as("preferred_name"),
      StringOps.withPrefix("biolink:", col("category"))
        .as("preferred_category"))

  def fromRawDump(nodes: DataFrame, clustersRaw: DataFrame,
                  edges: DataFrame): Synonymizer =
    new Synonymizer(
      nodes,
      clustersRaw
        .withColumn("member_ids",
          StringOps.parsePyList(col("member_ids")))
        .withColumn("intra_cluster_edge_ids",
          StringOps.parsePyList(col("intra_cluster_edge_ids"))),
      edges)

  /** Pipe-table markdown render of a (small, already-ordered) frame —
    * pandas `to_markdown(index=False)` shape for ALL-STRING frames,
    * which is what the reference's debug printer emits
    * (node_synonymizer.py:332,334) and all this renderer is fed.
    * Columns are left-aligned (`:---`) and padded to the widest cell;
    * pandas/tabulate right-aligns NUMERIC columns (`---:`) and applies
    * number formatting, so a numeric column would need per-type
    * alignment before the equivalence claim extends to it.
    */
  private[synonymizer] def toMarkdown(df: DataFrame): String = {
    val names = df.columns
    val rows = df.collect().map(r =>
      names.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse("")))
    val widths = names.indices.map(i =>
      (names(i).length +: rows.map(_(i).length)).max)
    def line(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
        .mkString("| ", " | ", " |")
    val sep = widths.map(w => ":" + "-" * (w + 1)).mkString("|", "|", "|")
    (line(names.toSeq) +: sep +: rows.map(line).toSeq).mkString("", "\n", "\n")
  }
}

final class Synonymizer(nodes: DataFrame, clusters: DataFrame,
                        edges: DataFrame,
                        probeJoin: Synonymizer.ProbeJoin =
                          Synonymizer.BroadcastProbe) {

  /** Broadcast hint gated on the probe-join mode: BroadcastProbe's
    * contract is bounded probe batches AND a cluster table that fits a
    * broadcast; ShuffleProbe exists precisely because neither holds at
    * corpus scale, so there every hinted side (the clusters-sized
    * preferred/member frames AND the probe-sized resolved frames)
    * must be allowed to shuffle — a hint would re-centralize the
    * bottleneck the mode removes (r15 review finding).
    */
  private def maybeBroadcast(df: DataFrame): DataFrame = probeJoin match {
    case Synonymizer.BroadcastProbe => broadcast(df)
    case _ => df
  }

  private val clustersPreferred =
    maybeBroadcast(Synonymizer.preferred(clusters))

  /** Distinct probe rows: input plus its normalized lookup key. */
  private def curieProbe(inputs: DataFrame): DataFrame =
    inputs.select(col("input")).distinct()
      .withColumn("probe_key", StringOps.capitalizePrefix(col("input")))

  private def nameProbe(inputs: DataFrame): DataFrame =
    inputs.select(col("input")).distinct()
      .withColumn("probe_key", StringOps.simplify(col("input")))

  /** input → cluster_id by exact (capitalized) curie
    * (node_synonymizer.py:69-77). Exactly ONE row per input: the
    * reference's dict build keeps a single entry per id_simplified
    * (node_synonymizer.py:80-86); where an id_simplified collides across
    * clusters we pick deterministically (smallest cluster_id) instead of
    * inheriting sqlite row order.
    */
  private def clusterByCurie(inputs: DataFrame): DataFrame = {
    val probed = probeJoin match {
      case Synonymizer.BroadcastProbe =>
        broadcast(curieProbe(inputs))
          .join(nodes, col("probe_key") === nodes("id_simplified"))
      case Synonymizer.ShuffleProbe(_) =>
        // un-salted: id_simplified is near-unique per node, no hot key
        curieProbe(inputs)
          .join(nodes, col("probe_key") === nodes("id_simplified"))
    }
    probed
      .groupBy(col("input"))
      .agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** input → argmax cluster by simplified name
    * (node_synonymizer.py:90-107 + 370-379). Engine tie-break per SURVEY
    * §6.1: max member count, then smallest cluster_id.
    */
  private def clusterByName(inputs: DataFrame): DataFrame = {
    val joined = probeJoin match {
      case Synonymizer.BroadcastProbe =>
        broadcast(nameProbe(inputs))
          .join(nodes, col("probe_key") === nodes("name_simplified"))
      case Synonymizer.ShuffleProbe(salt) =>
        // salted shuffle join (see Synonymizer.ProbeJoin): each node
        // row hashes into one of `salt` buckets by its id, the probe
        // side carries every bucket, so a Zipf-hot name's node rows
        // spread over `salt` tasks; each node row still meets its
        // probe exactly once, so the counts below are unchanged
        nameProbe(inputs)
          .withColumn("psalt",
            explode(sequence(lit(0L), lit((salt - 1).toLong))))
          .join(nodes.withColumn("nsalt",
              pmod(xxhash64(nodes("id")), lit(salt.toLong))),
            col("probe_key") === nodes("name_simplified") &&
              col("psalt") === col("nsalt"))
    }
    joined
      .groupBy(col("input"), col("cluster_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("input"))
      .agg(min_by(col("cluster_id"), struct(negate(col("cnt")), col("cluster_id")))
        .as("cluster_id"))
  }

  /** Member-category histogram of `rows` per `keyCol`, as the map
    * column `name`: biolink:-prefixed keys with null categories keyed
    * "null", member counts as values, assembled sorted for determinism.
    */
  private def categoryHistogram(rows: DataFrame, keyCol: String,
                                name: String): DataFrame =
    rows
      .groupBy(col(keyCol),
        coalesce(StringOps.withPrefix("biolink:", col("category")),
                 lit("null")).as("cat"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(keyCol))
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("cat"), col("cnt")))))
        .as(name))

  /** Per-cluster member-category histogram (node_synonymizer.py:121-141:
    * one extra query over nodes for the resolved clusters, counts per
    * member category). The resolved side is probe-sized → broadcast
    * into the nodes scan.
    */
  private def allCategories(resolved: DataFrame): DataFrame =
    categoryHistogram(
      nodes.join(maybeBroadcast(resolved.select("cluster_id").distinct()),
        "cluster_id"),
      "cluster_id", "all_categories")

  private def withPreferred(resolved0: DataFrame, inputs: DataFrame,
                            returnAllCategories: Boolean = false): DataFrame = {
    // two consumers when returnAllCategories (preferred join + histogram):
    // checkpoint the narrow (input, cluster_id) frame so the resolve joins
    // against the nodes table run once, not per branch
    val resolved =
      if (returnAllCategories) resolved0.localCheckpoint(eager = true)
      else resolved0
    val joined = inputs.select(col("input")).distinct()
      .join(resolved.join(clustersPreferred, "cluster_id"), Seq("input"), "left")
    if (returnAllCategories)
      joined.join(allCategories(resolved), Seq("cluster_id"), "left")
        .select("input", "preferred_curie", "preferred_name",
                "preferred_category", "all_categories")
    else
      joined.select("input", "preferred_curie", "preferred_name",
                    "preferred_category")
  }

  /** get_canonical_curies, curie path (node_synonymizer.py:58-86);
    * `returnAllCategories` appends the per-cluster member-category
    * histogram (node_synonymizer.py:121-141).
    */
  def canonicalCuriesByCurie(inputs: DataFrame,
                             returnAllCategories: Boolean = false): DataFrame =
    withPreferred(clusterByCurie(inputs), inputs, returnAllCategories)

  /** get_canonical_curies, name path (node_synonymizer.py:88-116). */
  def canonicalCuriesByName(inputs: DataFrame,
                            returnAllCategories: Boolean = false): DataFrame =
    withPreferred(clusterByName(inputs), inputs, returnAllCategories)

  /** Curie-else-name fallback resolution (node_synonymizer.py:229-234;
    * CLI :468-477): resolve as curie, retry the misses as names.
    */
  private def resolveFallback(inputs: DataFrame): DataFrame = {
    // byCurie feeds both the union and the miss left_anti; the union is
    // consumed from up to four branches in normalizerResults. Both are
    // narrow (input, cluster_id) frames — checkpoint so each full resolve
    // (two aggregated joins into the nodes scan) runs exactly once. An
    // eager local checkpoint, unlike persist, registers nothing in the
    // CacheManager: its blocks live only while the returned frame is
    // referenced, so repeated lookups in one session leak no entries.
    val byCurie = clusterByCurie(inputs).localCheckpoint(eager = true)
    val misses = inputs.select(col("input")).distinct()
      .join(byCurie, Seq("input"), "left_anti")
    byCurie.unionByName(clusterByName(misses))
      .localCheckpoint(eager = true)
  }

  /** get_canonical_curies with curie-else-name fallback
    * (node_synonymizer.py:229-234; CLI :468-477). The resolve runs
    * eagerly, inside this call (see resolveFallback).
    */
  def canonicalCuriesFallback(inputs: DataFrame,
                              returnAllCategories: Boolean = false): DataFrame =
    withPreferred(resolveFallback(inputs), inputs, returnAllCategories)

  /** get_equivalent_nodes (node_synonymizer.py:150-214): input → sorted
    * array of the resolved cluster's member curies (sort key = uppercased
    * id, node_synonymizer.py:280-281). With `includeUnrecognized` (the
    * reference's include_unrecognized_entities default) unresolved inputs
    * get a null-array row; without it they are DROPPED
    * (node_synonymizer.py:208-214 — the internal mode normalizerResults
    * uses for its miss-retry).
    */
  def equivalentNodes(inputs: DataFrame, byName: Boolean = false,
                      includeUnrecognized: Boolean = true): DataFrame =
    membersFor(if (byName) clusterByName(inputs) else clusterByCurie(inputs),
               inputs, includeUnrecognized)

  /** Equivalent nodes with curie-else-name fallback resolution — the
    * CLI's `-e` behavior (node_synonymizer.py:473-477: retry the input
    * as a name when the curie lookup comes back empty).
    */
  def equivalentNodesFallback(inputs: DataFrame,
                              includeUnrecognized: Boolean = true): DataFrame =
    membersFor(resolveFallback(inputs), inputs, includeUnrecognized)

  private def membersFor(resolved: DataFrame, inputs: DataFrame,
                         includeUnrecognized: Boolean): DataFrame = {
    val members = resolved
      .join(maybeBroadcast(
              clusters.select(col("cluster_id"), col("member_ids"))),
            "cluster_id")
      .select(col("input"),
        array_sort(col("member_ids"),
          (a, b) => when(upper(a) < upper(b), -1)
            .when(upper(a) > upper(b), 1).otherwise(0))
          .as("equivalent_curies"))
    if (includeUnrecognized)
      inputs.select(col("input")).distinct()
        .join(members, Seq("input"), "left")
    else members
  }

  /** get_normalizer_results (node_synonymizer.py:216-297): curie-else-name
    * fallback resolution, then per input the full member-node detail
    * (id + names/categories from each provenance, sorted by uppercased id)
    * plus the per-category member histogram with biolink:-prefixed keys
    * (node_synonymizer.py:246, 275-276: the tally is over the prefixed
    * node categories). `preferred_category` comes from the cluster's
    * REPRESENTATIVE member node — the node whose id equals the cluster id
    * (node_synonymizer.py:262-267: `cluster_rep = nodes_dict[cluster_id]`)
    * — falling back to the clusters-table category when the rep node is
    * absent from the member list (the reference would KeyError there).
    *
    * `outputFormat="minimal"` keeps only the preferred-id block — input +
    * preferred_curie/name/category, dropping the per-member `nodes` array
    * and the `categories` histogram (node_synonymizer.py:288-295: every
    * key except "id" is deleted).
    */
  def normalizerResults(inputs: DataFrame,
                        outputFormat: String = "full"): DataFrame = {
    require(outputFormat == "full" || outputFormat == "minimal",
      s"outputFormat must be 'full' or 'minimal', got '$outputFormat'")
    val distinctInputs = inputs.select(col("input")).distinct()
    val resolved = resolveFallback(inputs)

    // representative node = the node whose id IS the cluster id
    // (node_synonymizer.py:262: cluster_rep = nodes_dict[cluster_id]);
    // probe-sized resolved side broadcast into the nodes scan
    val repCategory = nodes
      .join(maybeBroadcast(resolved), nodes("id") === resolved("cluster_id"))
      .select(col("input"),
        StringOps.withPrefix("biolink:", col("category")).as("rep_category"))

    val preferredBase = resolved.join(clustersPreferred, "cluster_id")
      .select(col("input"), col("preferred_name"), col("preferred_category"))

    if (outputFormat == "minimal")
      return distinctInputs
        .join(resolved.select(col("input"),
                col("cluster_id").as("preferred_curie")), Seq("input"), "left")
        .join(preferredBase, Seq("input"), "left")
        .join(repCategory, Seq("input"), "left")
        .select(col("input"), col("preferred_curie"), col("preferred_name"),
          coalesce(col("rep_category"), col("preferred_category"))
            .as("preferred_category"))

    // consumed by both the per-member assembly and the histogram below —
    // checkpoint so the member explode + nodes join runs once
    val memberRows = resolved
      .join(maybeBroadcast(
              clusters.select(col("cluster_id"), col("member_ids"))),
            "cluster_id")
      .select(col("input"), col("cluster_id"),
              explode(col("member_ids")).as("member_id"))
      .join(nodes.withColumnRenamed("cluster_id", "node_cluster_id"),
            col("member_id") === nodes("id"))
      .localCheckpoint(eager = true)

    val assembled = memberRows
      .groupBy(col("input"), col("cluster_id"))
      .agg(
        sort_array(collect_list(struct(
          upper(col("id")).as("sort_key"),
          struct(
            col("id"), col("name"), col("category"), col("major_branch"),
            col("name_sri"), col("category_sri"),
            col("name_kg2pre"), col("category_kg2pre")).as("node"))))
          .as("sorted"))
      .select(
        col("input"),
        col("cluster_id").as("preferred_curie"),
        expr("transform(sorted, x -> x.node)").as("nodes"))

    val histo = categoryHistogram(memberRows, "input", "categories")

    distinctInputs
      .join(resolved.select(col("input"), col("cluster_id")),
            Seq("input"), "left")
      .join(assembled, Seq("input"), "left")
      .join(histo, Seq("input"), "left")
      .join(preferredBase, Seq("input"), "left")
      .join(repCategory, Seq("input"), "left")
      .select(col("input"),
        // fall back to the resolved cluster id when the cluster has no
        // joinable members (e.g. a raw dump's 'nan' member list) — keeps
        // 'full' and 'minimal' agreeing on preferred_curie
        coalesce(col("preferred_curie"), col("cluster_id"))
          .as("preferred_curie"),
        col("preferred_name"),
        coalesce(col("rep_category"), col("preferred_category"))
          .as("preferred_category"),
        col("nodes"), col("categories"))
  }

  /** R2 suffix → all-prefix expansion (node_synonymizer.py:43-56): bare
    * suffixes fan out across `prefixes`, hits resolve canonically. An
    * input ALREADY containing ':' bypasses the fan-out and probes as a
    * normal curie — its own value is the single candidate
    * (node_synonymizer.py:44-46). Output: one row per
    * (input, candidate_curie) hit; inputs with no hit at all get a
    * null-fill row.
    */
  def suffixSearch(inputs: DataFrame, prefixes: Seq[String]): DataFrame = {
    val prefixDf = inputs.sparkSession
      .createDataset(prefixes)(org.apache.spark.sql.Encoders.STRING)
      .toDF("prefix")
    val distinctInputs = inputs.select(col("input")).distinct()
    val bare = distinctInputs.filter(!col("input").contains(":"))
    val candidates = bare
      .crossJoin(broadcast(prefixDf))
      .select(col("input"),
              StringOps.curieCandidate(col("prefix"), col("input"))
                .as("candidate"))
      .unionByName(distinctInputs.filter(col("input").contains(":"))
        .select(col("input"), col("input").as("candidate")))
    val hits = maybeBroadcast(candidates
        .withColumn("probe_key", StringOps.capitalizePrefix(col("candidate"))))
      .join(nodes, col("probe_key") === nodes("id_simplified"))
      .join(clustersPreferred, "cluster_id")
      .select("input", "candidate", "preferred_curie", "preferred_name",
              "preferred_category")
      .distinct()
    inputs.select(col("input")).distinct()
      .join(hits, Seq("input"), "left")
  }

  /** U5 debug helper in the CLI's shape (node_synonymizer.py:301-310):
    * resolve the input curie-else-name FIRST, then fetch that cluster's
    * table; None when the input is unrecognized.
    */
  def clusterTableFor(curieOrName: String): Option[(DataFrame, DataFrame)] = {
    val spark = nodes.sparkSession
    val one = spark.createDataset(Seq(curieOrName))(
      org.apache.spark.sql.Encoders.STRING).toDF("input")
    canonicalCuriesFallback(one).collect().headOption
      .flatMap(r => Option(r.getString(1)))
      .map(clusterTable)
  }

  /** U5 debug helper: a cluster's member nodes and intra-cluster edges
    * (node_synonymizer.py:301-339) — dev utility, driver-side collect OK.
    */
  def clusterTable(clusterId: String): (DataFrame, DataFrame) = {
    val c = clusters.filter(col("cluster_id") === clusterId)
    val members = c.select(explode(col("member_ids")).as("member_id"))
      .join(nodes, col("member_id") === nodes("id"))
      .orderBy("id")
    val clusterEdges = c
      .select(explode(col("intra_cluster_edge_ids")).as("edge_id"))
      .join(edges, col("edge_id") === edges("id"))
      .orderBy("id")
    (members, clusterEdges)
  }

  /** U5 rendered form (node_synonymizer.py:331-339): the edges then nodes
    * tables as markdown, same column subsets and headline counts as the
    * reference's `print_cluster_table`. Dev utility — driver-side collect
    * is intentional and bounded by cluster size. None = unrecognized input
    * (the reference prints "Sorry, ... is not recognized").
    */
  def renderClusterTable(curieOrName: String): Option[String] =
    clusterTableFor(curieOrName).map { case (members, clusterEdges) =>
      val nodeTbl = Synonymizer.toMarkdown(
        members.select("id", "category", "name"))
      val edgeTbl = Synonymizer.toMarkdown(
        clusterEdges.select("subject", "predicate", "object",
                            "upstream_resource_id",
                            "primary_knowledge_source"))
      // newline count = header + separator + N data rows
      val nEdges = edgeTbl.count(_ == '\n') - 2
      val nNodes = nodeTbl.count(_ == '\n') - 2
      // no stripMargin here: the margin char is '|', which would strip the
      // leading pipe off every table row
      s"Cluster for $curieOrName has $nEdges edges:\n\n" + edgeTbl +
        s"\nCluster for $curieOrName has $nNodes nodes:\n\n" + nodeTbl
    }
}
