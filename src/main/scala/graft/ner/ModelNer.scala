package graft.ner

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import graft.ops.StringOps
import graft.synonymizer.Synonymizer

/** U1 escape hatch — the external-model entity linker
  * (NER.py:42-51, 102-108; perform_NER.py:79-99; SURVEY §2.8).
  *
  * The reference hosts five scispaCy pipelines and, per sentence, takes
  * each pipeline's detected entities with their candidate KB curies,
  * canonicalizes the curies through the synonymizer (name fallback when a
  * mention linked to nothing), category-filters, and merges
  * longest-mention-wins. This adapter reproduces that orchestration
  * Spark-side around ANY model behind [[NerModelProvider]]:
  *
  *  - P2/P3/P4 sentence gating is the SHARED path
  *    ([[DictionaryNer.sentences]]) — both linkers see identical input;
  *  - `mapPartitions` opens every provider's model ONCE per partition
  *    (the per-partition handle; a GPU/ONNX session, an RPC client) and
  *    feeds it `config.batchSize`-sentence batches — never per-row calls;
  *  - a failed batch is retried sentence-by-sentence and individual
  *    failures are SKIPPED (U3, perform_NER.py:31-33 `except
  *    RuntimeError: continue`);
  *  - candidate curies canonicalize via the synonymizer member join
  *    (get_canonical_curies by curie: capitalized prefix →
  *    `id_simplified` → cluster, node_synonymizer.py:386-390);
  *    empty-candidate mentions fall back to the simplified-name
  *    dictionary (NER.py:105-117's `if curies else entity`) with the
  *    dictionary matcher's multi-candidate semantics so the two linkers
  *    agree on name resolution;
  *  - the tail (category filter + longest-mention-wins per curie) is the
  *    one [[EntityLinker]] merge; this class implements only
  *    [[EntityLinker.hits]].
  *
  * Scale shape: the model stage is map-side (one pass over sentences, no
  * shuffle); the only shuffles are the canonicalization join (lookup
  * table distributed per `dictBuild`, same Auto sizing as
  * [[DictionaryNer]]) and the final duplicate-insensitive aggregate.
  * Ensembles (several providers, perform_NER.py:79-99's five configs)
  * share one pass over the sentence stream.
  */
final class ModelNer(nodes: DataFrame, clusters: DataFrame,
                     providers: Seq[NerModelProvider],
                     config: NerConfig = NerConfig(),
                     dictBuild: DictionaryNer.Build = DictionaryNer.Auto)
    extends EntityLinker {
  require(providers.nonEmpty, "at least one NerModelProvider")

  /** Separator for name-fallback keys in the unified lookup table —
    * NUL never occurs in a curie, so member keys can't collide with
    * fallback keys.
    */
  private val NameKey = "name\u0000"

  /** One lookup table serving both canonicalization paths, so the raw
    * model output joins ONCE (the model stage is never recomputed for a
    * second join):
    *  - member path: key = id_simplified, one cluster per member id
    *    (min-cluster determinism, node_synonymizer.py:386-390);
    *  - fallback path: key = "name\0" + name_simplified, one row per
    *    (name, cluster) — multi-candidate like the dictionary matcher.
    */
  private val lookup: DataFrame = {
    val preferred = broadcast(Synonymizer.preferred(clusters))
    val members = nodes
      .groupBy(col("id_simplified"))
      .agg(min(col("cluster_id")).as("cluster_id"))
      .join(preferred, "cluster_id")
      .select(col("id_simplified").as("link_key"),
              col("cluster_id").as("curie"),
              col("preferred_name"), col("preferred_category"))
    val names = DictionaryNer.dictionaryOf(nodes, clusters)
      .select(concat(lit(NameKey), col("mention_key")).as("link_key"),
              col("curie"), col("preferred_name"), col("preferred_category"))
    DictionaryNer.distribute(members.unionByName(names), nodes, dictBuild)
  }

  /** The model pipeline up to (doc_key, curie, mention,
    * preferred_category) hits (see [[EntityLinker.hits]]): ONE
    * mapPartitions model pass, so a fused multi-pass call opens the
    * models once per partition, not once per pass.
    */
  protected def hits(docs: DataFrame, keyCol: String,
                     textCol: String): DataFrame = {
    val sents = DictionaryNer.sentences(docs, keyCol, textCol)
    val keyField = sents.schema("doc_key")
    val outSchema = StructType(Seq(
      StructField("doc_key", keyField.dataType, keyField.nullable),
      StructField("mention", StringType, nullable = false),
      StructField("candidate", StringType, nullable = true)))
    val provs = providers
    val conf = config
    val raw = sents.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val models = provs.map(_.open(conf))
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] {
          _ => models.foreach(m => try m.close() catch { case _: Exception => () })
        })
        rows.grouped(conf.batchSize).flatMap { batch =>
          val sentences = batch.map(_.getString(1))
          models.iterator.flatMap { model =>
            ModelNer.safeLink(model, sentences).iterator.zip(batch.iterator)
              .flatMap { case (mentions, row) =>
                mentions.iterator.flatMap { nm =>
                  val kept = nm.candidates
                    .filter(c => c.curie != null && c.score >= conf.threshold)
                    .sortBy(c => (-c.score, c.curie))
                    .take(conf.maxEntitiesPerMention)
                  if (kept.isEmpty) // detected but unlinked → name fallback
                    Iterator.single(Row(row.get(0), nm.mention, null))
                  else kept.iterator.map(c =>
                    Row(row.get(0), nm.mention, c.curie))
                }
              }
          }
        }
      }
    }(Encoders.row(outSchema))

    val keyed = raw.withColumn("link_key",
        when(col("candidate").isNotNull,
             StringOps.capitalizePrefix(col("candidate")))
          .otherwise(concat(lit(NameKey),
                            StringOps.simplify(col("mention")))))
      .filter(col("candidate").isNotNull || col("link_key") =!= NameKey)
    keyed.join(lookup, "link_key")
      .select(col("doc_key"), col("curie"), col("mention"),
              col("preferred_category"))
  }
}

object ModelNer {

  /** U3 failure tolerance: a batch failure falls back to per-sentence
    * calls; a sentence that still fails contributes nothing
    * (perform_NER.py:31-33). Only non-fatal exceptions are absorbed.
    */
  private[ner] def safeLink(model: NerModel,
                            sentences: Seq[String]): Seq[Seq[NerMention]] =
    try {
      val out = model.linkBatch(sentences)
      require(out.length == sentences.length,
        s"model returned ${out.length} results for ${sentences.length} sentences")
      out
    } catch {
      case scala.util.control.NonFatal(_) =>
        sentences.map { s =>
          try model.linkBatch(Seq(s)).head
          catch { case scala.util.control.NonFatal(_) => Seq.empty }
        }
    }
}

/** Deterministic TEST-DOUBLE model: replicates the dictionary matcher's
  * candidate generation in plain JVM code against a broadcast
  * (name_simplified → member ids) index, so the adapter's plumbing —
  * batching, per-partition open, canonicalization joins, category and
  * longest-wins semantics — can be proven BYTE-IDENTICAL to
  * [[DictionaryNer]] on the golden corpus (round-6 verdict ask #1's done
  * bar). Gram generation calls the same
  * [[graft.functions.NativeTextEval.ngrams]] kernel the real matcher
  * codegens, so tokenization parity is by construction, not by parallel
  * reimplementation.
  *
  * A real model brings its own index/weights; the driver-collected map
  * here is test scaffolding (bounded by dictionary size), not a pattern
  * for production linkers.
  *
  * Knobs: `emitCandidates = false` reports every mention with NO
  * candidates (a detector that links nothing) — exercising the
  * adapter's name-fallback join, which must produce the same output;
  * `failOnSubstring` throws on matching sentences (U3 skip testing);
  * `opens`/`batches` count per-partition model opens and linkBatch
  * calls (batching-contract assertions).
  */
final class DictionaryDouble(
    index: Broadcast[Map[String, Seq[String]]],
    maxGram: Int = 6, minMentionChars: Int = 3,
    emitCandidates: Boolean = true,
    failOnSubstring: Option[String] = None,
    opens: Option[LongAccumulator] = None,
    batches: Option[LongAccumulator] = None) extends NerModelProvider {

  override def open(config: NerConfig): NerModel = {
    opens.foreach(_.add(1))
    new NerModel {
      override def linkBatch(sentences: Seq[String]): Seq[Seq[NerMention]] = {
        batches.foreach(_.add(1))
        sentences.map { s =>
          failOnSubstring.foreach { t =>
            if (s.contains(t))
              throw new RuntimeException(s"model failure on: $t")
          }
          DictionaryDouble.matchSentence(
            s, index.value, maxGram, minMentionChars, emitCandidates)
        }
      }
    }
  }
}

object DictionaryDouble {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String

  /** Build a double over the same nodes relation the dictionary matcher
    * uses (driver collect — test scaffolding, see class doc).
    */
  def fromNodes(nodes: DataFrame, maxGram: Int = 6,
                minMentionChars: Int = 3, emitCandidates: Boolean = true,
                failOnSubstring: Option[String] = None,
                opens: Option[LongAccumulator] = None,
                batches: Option[LongAccumulator] = None): DictionaryDouble = {
    val idx = nodes.select(col("name_simplified"), col("id"))
      .filter(col("name_simplified").isNotNull &&
              length(col("name_simplified")) > 0)
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(_.getString(1)).toSeq.sorted }
    new DictionaryDouble(
      nodes.sparkSession.sparkContext.broadcast(idx),
      maxGram, minMentionChars, emitCandidates, failOnSubstring,
      opens, batches)
  }

  /** One sentence → detected mentions, exactly the dictionary matcher's
    * candidate pipeline: strip `.,;:?!` (P6), trim, whitespace-split,
    * NativeTextEval.ngrams (same kernel), simplify (P7), index lookup.
    */
  private[ner] def matchSentence(
      sentence: String, index: Map[String, Seq[String]],
      maxGram: Int, minChars: Int,
      emitCandidates: Boolean): Seq[NerMention] = {
    val stripped = sentence.filterNot(".,;:?!".contains(_)).trim
    val toks = stripped.split("\\s+")
    val grams = graft.functions.NativeTextEval.ngrams(
      new GenericArrayData(
        toks.map(t => UTF8String.fromString(t): Any)),
      maxGram, minChars).asInstanceOf[ArrayData]
    (0 until grams.numElements()).iterator
      .map(grams.getUTF8String(_).toString)
      .flatMap { mention =>
        val key = mention.replaceAll("[\\p{Punct}\\s]", "")
          .toLowerCase(java.util.Locale.ROOT)
        index.get(key).map { ids =>
          NerMention(mention,
            if (emitCandidates) ids.map(NerCandidate(_, 1.0)) else Nil)
        }
      }
      .toSeq
  }
}
