package graft.ner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.AggOps

/** U1 — the entity-linking operator contract (SURVEY §2.8).
  *
  * The reference's NER stage is an interchangeable stack of five neural
  * pipelines behind one call surface (`text_to_kg2_nodes`,
  * perform_NER.py:19-54, configured at perform_NER.py:79-99); this trait
  * is that surface for the Spark engine. A linker implements only
  * [[hits]] — the raw mention → canonical-curie links — and inherits
  * both entry points, which add the one category filter and
  * longest-mention-wins merge. Two implementations ship:
  *
  *  - [[DictionaryNer]] — the deterministic dictionary re-specification
  *    (n-gram mentions joined against the synonymizer name dictionary);
  *  - [[ModelNer]] — the external-model escape hatch: a
  *    `mapPartitions`-hosted adapter that opens a user-supplied model
  *    once per partition, feeds it sentence BATCHES, and aligns the
  *    returned candidate curies through the synonymizer joins. A real
  *    DrugBankNER user plugs a neural linker in here (NER.py:42-51) and
  *    keeps the whole surrounding pipeline — Stage1/Stage2 take the
  *    trait, not a concrete matcher.
  *
  * Output contract: (doc_key, curie, name, category) — one row per
  * (document, canonical curie), `name` the longest matched mention text
  * (A4 longest-wins, perform_NER.py:39-53), `category` the canonical
  * cluster category.
  */
trait EntityLinker {

  /** Raw links: rows carrying (doc_key, curie, mention,
    * preferred_category), one per (document, mention, candidate curie);
    * `doc_key` is the value of `keyCol`. Other columns are ignored, and
    * duplicates are allowed — the merge is duplicate-insensitive.
    */
  protected def hits(docs: DataFrame, keyCol: String,
                     textCol: String): DataFrame

  /** text_to_kg2_nodes (perform_NER.py:19-54): per document, the
    * category-filtered canonical matches. `categories` empty = no filter.
    */
  final def textToKg2Nodes(docs: DataFrame, keyCol: String, textCol: String,
                           categories: Set[String] = Set.empty): DataFrame = {
    val h = hits(docs, keyCol, textCol)
    EntityLinker.merge(
      if (categories.isEmpty) h
      else h.filter(EntityLinker.inCategories(categories)))
  }

  /** Fused multi-pass linking: `docs` rows are tagged with a pass label
    * (`keyCol` must be a struct whose `pass` field names the pass), and
    * each pass gets its own category filter — applied BEFORE the
    * longest-wins merge, exactly as a separate [[textToKg2Nodes]] call
    * per pass would, so the output is row-identical to that union. One
    * linking pipeline replaces one per pass: one map pass and one hits
    * aggregate instead of N, and a model linker opens its models once.
    * A row whose pass is not in the map is dropped.
    */
  final def textToKg2NodesByPass(docs: DataFrame, keyCol: String,
                                 textCol: String,
                                 categoriesByPass: Map[String, Set[String]])
      : DataFrame = {
    require(categoriesByPass.nonEmpty,
      "textToKg2NodesByPass needs at least one pass -> categories entry")
    val pass = col("doc_key").getField("pass")
    val keep = categoriesByPass.map { case (p, cats) =>
      if (cats.isEmpty) pass === p
      else pass === p && EntityLinker.inCategories(cats)
    }.reduce(_ || _)
    EntityLinker.merge(hits(docs, keyCol, textCol).filter(keep))
  }

  /** Map-form result (`indication_NER_aligned` /
    * `mechanistic_intermediate_nodes` shape, perform_NER.py:119-134):
    * doc_key → map<curie, struct<name, category>> with deterministically
    * sorted keys.
    */
  final def asMap(matches: DataFrame): DataFrame =
    matches
      .groupBy("doc_key")
      .agg(AggOps.matchMap(col("curie"),
        struct(col("name"), col("category")).as("info")).as("matches"))
}

object EntityLinker {

  private def inCategories(categories: Set[String]): Column =
    col("preferred_category").isin(categories.toSeq.map(x => x: Any): _*)

  /** Shared tail of text_to_kg2_nodes (perform_NER.py:34-53): the
    * per-(doc, curie) longest-mention-wins merge.
    */
  private def merge(hits: DataFrame): DataFrame =
    hits
      .groupBy(col("doc_key"), col("curie"))
      .agg(AggOps.longestWins(col("mention")).as("name"),
           max(col("preferred_category")).as("category"))
}

/** Model configuration, mirroring the reference's pipe-config surface
  * exactly (NER.py:42-51: `threshold`, `k`=num_neighbors,
  * `max_entities_per_mention`, `linker_name`; the five production
  * configurations at perform_NER.py:79-99 are all expressible — e.g.
  * `NerConfig(Seq("umls", "mesh"), threshold = 0.70, numNeighbors = 15,
  * maxEntitiesPerMention = 1)`).
  *
  * `threshold` / `numNeighbors` / `maxEntitiesPerMention` are passed to
  * the model at open() AND enforced defensively by the adapter
  * (candidates below threshold drop; survivors sort by (score desc,
  * curie asc) and truncate to maxEntitiesPerMention — deterministic
  * regardless of model ordering). `batchSize` is adapter-only: how many
  * sentences ride in one linkBatch call.
  */
final case class NerConfig(
    linkerNames: Seq[String] = Seq("umls"),
    threshold: Double = 0.99,
    numNeighbors: Int = 1,
    maxEntitiesPerMention: Int = 1,
    batchSize: Int = 64) {
  require(batchSize >= 1, "batchSize must be >= 1")
  require(maxEntitiesPerMention >= 1, "maxEntitiesPerMention must be >= 1")
}

/** One candidate entity link: a (member-level) curie + model score —
  * scispaCy's `ent._.kb_ents` tuple (NER.py:107-108).
  */
final case class NerCandidate(curie: String, score: Double)

/** One detected mention in a sentence with its candidate links.
  * `candidates` EMPTY means the model detected the span but linked
  * nothing — the adapter then falls back to a name lookup of the mention
  * text, exactly the reference's
  * `_get_preferred_curies_info(list(curies) if curies else entity)`
  * (NER.py:105-117).
  */
final case class NerMention(mention: String, candidates: Seq[NerCandidate])

/** A live model handle, opened once per partition and fed batches.
  * Implementations host the actual inference (a JNI/ONNX session, an RPC
  * client, a local process). linkBatch MUST return exactly one entry per
  * input sentence, in order. A thrown exception fails the whole batch;
  * the adapter then retries sentence-by-sentence and skips individual
  * failures (U3 failure tolerance, perform_NER.py:31-33).
  */
trait NerModel {
  def linkBatch(sentences: Seq[String]): Seq[Seq[NerMention]]
  def close(): Unit = ()
}

/** Serializable factory shipped to executors; `open` runs once per
  * partition per query (the per-partition model handle — never per row).
  */
trait NerModelProvider extends Serializable {
  def open(config: NerConfig): NerModel
}
