package graft.ner

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.StringOps
import graft.synonymizer.Synonymizer

/** Deterministic re-specification of the reference's scispaCy NER stage
  * (NER.py:83-122, perform_NER.py:19-54; SURVEY §2.8 U1): text → KG2 node
  * matches via n-gram dictionary mentions instead of a neural linker. The
  * operator contract is preserved exactly — sentence split + length gates
  * (P2/P3), long-token drop (P4), punctuation strip (P6), mention →
  * canonical-curie linking, optional category filter, longest-mention-wins
  * merge per curie (A4) — while the matcher itself is a join against the
  * synonymizer's `name_simplified` dictionary (match recall differs from
  * the neural model; operator semantics are identical).
  *
  * Scale notes: the mention side explodes each sentence into ≤ maxGram ×
  * tokens n-grams (per-sentence-deduped inside NGramsExpr) and joins the
  * dictionary RAW — the matching aggregate is duplicate-insensitive, so
  * a pre-join distinct would only add a full-stream shuffle (measured
  * superlinear at SCALECURVE's 200k-doc point before round 6 removed
  * it). With a broadcast dictionary the whole candidate path is
  * map-side; a dictionary too big to broadcast sort-merges on the
  * simplified key with AQE skew handling (common-word mentions are the
  * classic skew keys — dedup ahead with [[DictionaryNer.mentions]] if
  * duplication is heavy). All expressions are built-ins or codegen'd
  * natives → whole-stage codegen end to end.
  */
final class DictionaryNer(nodes: DataFrame, clusters: DataFrame,
                          maxGram: Int = 6, minMentionChars: Int = 3,
                          dictBuild: DictionaryNer.Build = DictionaryNer.Auto)
    extends EntityLinker {

  /** mention_key (simplified) → canonical triple. One row per
    * (name_simplified, cluster): a mention with several clusters yields
    * several candidate curies, mirroring multi-candidate entity linking
    * (NER.py:110-120).
    *
    * The dictionary is ALWAYS the pinned build side of the mention
    * join. Left to statistics, Catalyst under-estimates the exploded
    * n-gram stream (explode fan-out isn't modeled) and at SCALECURVE's
    * 200k-doc point chose to BROADCAST THE 22M-ROW MENTION SIDE —
    * collecting the corpus-scale stream to the driver. `dictBuild`
    * picks the dictionary's distribution: broadcast (right up to
    * ~100 MB of names), a shuffle-hash hint (the real-KG2 path for
    * dictionaries too big to ship; builds the dictionary hash table
    * per-partition, streams the mentions, never sorts them), or — the
    * default — an [[DictionaryNer.Auto]] pick from the nodes relation's
    * estimated size, so real-KG2-scale callers degrade to the
    * distributed join instead of hitting the broadcast limit.
    */
  private val dictionary: DataFrame =
    DictionaryNer.distribute(
      DictionaryNer.dictionaryOf(nodes, clusters), nodes, dictBuild)

  /** P2+P3+P4: text → gated, scrubbed sentences (perform_NER.py:22-28). */
  def sentences(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    DictionaryNer.sentences(docs, keyCol, textCol)

  /** Sentence → distinct candidate mentions (instance-config n-grams). */
  def mentions(sentenceDf: DataFrame): DataFrame =
    DictionaryNer.mentions(sentenceDf, maxGram, minMentionChars)

  /** Raw mention → dictionary links (see [[EntityLinker.hits]]): the
    * RAW n-gram stream joins the dictionary with no pre-join distinct
    * (see the scale notes above). For a dictionary too big to broadcast,
    * dedup ahead of the sort-merge join with [[DictionaryNer.mentions]].
    */
  protected def hits(docs: DataFrame, keyCol: String,
                     textCol: String): DataFrame =
    DictionaryNer.rawMentions(
        sentences(docs, keyCol, textCol), maxGram, minMentionChars)
      .withColumn("mention_key", StringOps.simplify(col("mention")))
      .filter(length(col("mention_key")) > 0)
      .join(dictionary, "mention_key")
}

object DictionaryNer {

  /** Distribution of the dictionary build side of the mention join. */
  sealed trait Build
  /** Ship the whole dictionary to every executor (map-side join). */
  case object BroadcastDict extends Build
  /** Per-partition hash build + streamed probe side, no sort — the
    * real-KG2-scale path for dictionaries too big to broadcast. */
  case object ShuffleHashDict extends Build
  /** Pick from the nodes relation's Catalyst size estimate (file size
    * for a parquet source, exact bytes for an in-memory relation):
    * broadcast under [[AutoBroadcastMaxBytes]], shuffle-hash above. The
    * estimate is of the FULL nodes relation, an upper bound on the
    * two-column pruned dictionary actually shipped. */
  case object Auto extends Build

  /** Auto cliff — ~100 MB of names broadcasts fine on multi-GB
    * executors; real KG2 nodes dumps (GBs) must not be collected. */
  val AutoBroadcastMaxBytes: Long = 100L << 20

  /** The (name_simplified → canonical triple) dictionary both linkers
    * share: [[DictionaryNer]] joins mentions against it directly;
    * [[ModelNer]] uses it for the empty-candidate name fallback.
    */
  private[ner] def dictionaryOf(nodes: DataFrame,
                                clusters: DataFrame): DataFrame =
    nodes.join(broadcast(Synonymizer.preferred(clusters)), "cluster_id")
      .select(col("name_simplified").as("mention_key"),
              col("cluster_id").as("curie"),
              col("preferred_name"), col("preferred_category"))
      .distinct()

  private[ner] def distribute(dict: DataFrame, nodes: DataFrame,
                              build: Build): DataFrame = build match {
    case BroadcastDict   => broadcast(dict)
    case ShuffleHashDict => dict.hint("shuffle_hash")
    case Auto =>
      val bytes = nodes.queryExecution.optimizedPlan.stats.sizeInBytes
      if (bytes <= AutoBroadcastMaxBytes) broadcast(dict)
      else dict.hint("shuffle_hash")
  }

  /** P2+P3+P4: text → gated, scrubbed sentences (perform_NER.py:22-28).
    * The downstream n-gram explode is the pipeline's CPU/blow-up stage
    * and must not inherit a single-split input layout — conditional
    * repartition (no-op on a well-split scan).
    */
  def sentences(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    graft.ops.Partitioning.ensureParallelism(
        docs.select(col(keyCol).as("doc_key"), col(textCol).as("t")))
      .select(col("doc_key"),
              explode(StringOps.sentences(col("t"))).as("sentence"))
      .filter(StringOps.lengthOk(col("sentence")))
      .select(col("doc_key"),
              StringOps.dropLongTokens(col("sentence")).as("sentence"))

  /** Sentence → distinct candidate mentions: punctuation-stripped
    * (NER.py:99-100) whitespace tokens recombined into 1..maxGram-grams.
    * Gram generation, the length gate, and per-sentence dedup run inside
    * one native expression (graft.functions.NGramsExpr) — the interpreted
    * HOF version of this was the engine's hottest query by 25×.
    */
  def mentions(sentenceDf: DataFrame, maxGram: Int = 6,
               minMentionChars: Int = 3): DataFrame =
    rawMentions(sentenceDf, maxGram, minMentionChars).distinct()

  /** The pre-distinct mention stream — what [[DictionaryNer.hits]]
    * joins (per-sentence-deduped by NGramsExpr; cross-sentence duplicates
    * left in, the consuming aggregate being duplicate-insensitive). */
  private[ner] def rawMentions(sentenceDf: DataFrame, maxGram: Int,
                               minMentionChars: Int): DataFrame = {
    val toks = split(trim(StringOps.stripPunct(col("sentence"))), "\\s+")
    sentenceDf
      .select(col("doc_key"),
              explode(graft.functions.NGrams(toks, maxGram, minMentionChars))
                .as("mention"))
  }
}
